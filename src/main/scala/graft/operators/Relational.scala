package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.sources.{IndexStore, Tables}

/** General relational operator library (SURVEY.md §2 generalization,
  * §7.2 step 4): the operators a user of the reference would reach for
  * when the PoC grows up — every join flavor, aggregation, window,
  * sort/top-k, set op, and the scalar-function families the reference
  * touches (string/date/array/json).
  *
  * Scale discipline applied throughout:
  *   - dimension tables (region/nation/customer/supplier/part) are
  *     broadcast — fact-side never shuffles for those joins;
  *   - money arithmetic goes through DECIMAL(18,2) so results are
  *     summation-order independent (deterministic under any partitioning
  *     AND bit-identical to the DuckDB oracle), then back to DOUBLE;
  *   - top-k uses window row_number with a total order (deterministic
  *     under shuffle), never bare limit-after-sort on ties.
  */
object Relational {

  /** Exact money sum: DECIMAL-accumulated, DOUBLE result. */
  private def dsum(c: Column): Column = sum(c.cast("decimal(18,2)")).cast("double")

  // --- Aggregation ------------------------------------------------------

  /** TPC-H Q1-shaped pricing summary: multi-aggregate groupBy with
    * derived expressions. Partial aggregation (map-side combine) makes
    * this a single small shuffle regardless of input size.
    */
  def q1PricingSummary(spark: SparkSession, dir: String): DataFrame =
    Tables.lineitem(spark, dir)
      .where(col("l_shipdate") <= lit("1997-09-01").cast("timestamp"))
      .groupBy(col("l_returnflag"), col("l_linestatus"))
      .agg(
        sum(col("l_quantity").cast("decimal(18,2)")).cast("double").as("sum_qty"),
        dsum(col("l_extendedprice")).as("sum_base_price"),
        sum((col("l_extendedprice").cast("decimal(18,2)") *
          (lit(1).cast("decimal(18,2)") - col("l_discount").cast("decimal(18,2)"))))
          .cast("double").as("sum_disc_price"),
        count(lit(1)).as("count_order"),
        min(col("l_quantity")).as("min_qty"),
        max(col("l_quantity")).as("max_qty")
      )

  /** Filter + projection — pushdown showcase (F1/F2/P1): predicate and
    * column pruning must reach the parquet scan.
    */
  def q2FilterProject(spark: SparkSession, dir: String): DataFrame =
    Tables.lineitem(spark, dir)
      .where(col("l_shipdate") >= lit("1995-01-01").cast("timestamp") &&
        col("l_discount") > 0.05 && col("l_quantity") < 10)
      .select(col("l_orderkey"), col("l_partkey"), col("l_quantity"),
        col("l_extendedprice"), col("l_shipdate"))

  /** Revenue per order: fact-to-fact equi-join then aggregate. At scale
    * both sides shuffle on the join key once; AQE handles skew.
    */
  def q3JoinAgg(spark: SparkSession, dir: String): DataFrame = {
    val li = Tables.lineitem(spark, dir)
    val o = Tables.orders(spark, dir).where(col("o_orderstatus") === "F")
    li.join(o, col("l_orderkey") === col("o_orderkey"))
      .groupBy(col("o_orderkey"), col("o_orderdate"), col("o_orderpriority"))
      .agg(
        sum((col("l_extendedprice").cast("decimal(18,2)") *
          (lit(1).cast("decimal(18,2)") - col("l_discount").cast("decimal(18,2)"))))
          .cast("double").as("revenue"),
        count(lit(1)).as("n_items"))
  }

  /** Left-semi join (EXISTS) — the general form of the reference's
    * phase-2 `terms` restriction (SURVEY.md F3/J1).
    */
  def q4SemiJoin(spark: SparkSession, dir: String): DataFrame = {
    val big = Tables.lineitem(spark, dir).where(col("l_quantity") >= 48)
      .select(col("l_orderkey")).distinct()
    Tables.orders(spark, dir)
      .join(big, col("o_orderkey") === col("l_orderkey"), "left_semi")
      .groupBy(col("o_orderpriority"))
      .agg(count(lit(1)).as("n_orders"))
  }

  /** Left-anti join (NOT EXISTS): customers with no big-ticket orders. */
  def q5AntiJoin(spark: SparkSession, dir: String): DataFrame = {
    val o = Tables.orders(spark, dir)
      .where(col("o_totalprice") > 250000).select(col("o_custkey"))
    Tables.customer(spark, dir)
      .join(o, col("c_custkey") === col("o_custkey"), "left_anti")
      .select(col("c_custkey"), col("c_name"), col("c_mktsegment"))
  }

  /** Broadcast hash join against a small dimension: the fact side keeps
    * its partitioning — zero shuffle for the join itself.
    */
  def q6BroadcastJoin(spark: SparkSession, dir: String): DataFrame = {
    val li = Tables.lineitem(spark, dir)
    val p = Tables.part(spark, dir)
    li.join(broadcast(p), col("l_partkey") === col("p_partkey"))
      .groupBy(col("p_brand"))
      .agg(dsum(col("l_extendedprice")).as("brand_revenue"),
        count(lit(1)).as("n_lines"))
  }

  /** Left-outer join preserving unmatched rows + null-tolerant agg. */
  def q7OuterJoin(spark: SparkSession, dir: String): DataFrame = {
    val o = Tables.orders(spark, dir)
    Tables.customer(spark, dir)
      .join(o, col("c_custkey") === col("o_custkey"), "left_outer")
      .groupBy(col("c_custkey"), col("c_mktsegment"))
      .agg(count(col("o_orderkey")).as("n_orders"),
        coalesce(dsum(col("o_totalprice")), lit(0.0)).as("total_spent"))
  }

  /** Top-N per group via window row_number with deterministic total
    * order (SURVEY.md A2 generalized; §7.4 risk 2).
    */
  def q8WindowTopN(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("o_custkey"))
      .orderBy(col("o_totalprice").desc, col("o_orderkey").asc)
    Tables.orders(spark, dir)
      .withColumn("rk", row_number().over(w))
      .where(col("rk") <= 3)
      .select(col("o_custkey"), col("o_orderkey"), col("o_totalprice"), col("rk"))
  }

  /** Running (cumulative) aggregate over an ordered window. */
  def q9WindowRunning(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("o_custkey"))
      .orderBy(col("o_orderdate").asc, col("o_orderkey").asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    Tables.orders(spark, dir)
      .withColumn("running_spend",
        sum(col("o_totalprice").cast("decimal(18,2)")).over(w).cast("double"))
      .select(col("o_custkey"), col("o_orderkey"), col("o_orderdate"),
        col("running_spend"))
  }

  /** Distinct projection — dedup without aggregation payload. */
  def q10Distinct(spark: SparkSession, dir: String): DataFrame =
    Tables.lineitem(spark, dir)
      .select(col("l_returnflag"), col("l_linestatus")).distinct()

  /** Set operation: EXCEPT (customers minus pending-order customers). */
  def q11Except(spark: SparkSession, dir: String): DataFrame = {
    val c = Tables.customer(spark, dir).select(col("c_custkey").as("custkey"))
    val o = Tables.orders(spark, dir).where(col("o_orderstatus") === "P")
      .select(col("o_custkey").as("custkey"))
    c.except(o)
  }

  /** Set operation: INTERSECT of supplier and customer nation keys. */
  def q12Intersect(spark: SparkSession, dir: String): DataFrame = {
    val s = Tables.supplier(spark, dir).select(col("s_nationkey").cast("int").as("nationkey"))
    val c = Tables.customer(spark, dir).select(col("c_nationkey").cast("int").as("nationkey"))
    s.intersect(c)
  }

  /** ROLLUP grouping sets with grouping_id disambiguation. */
  def q13Rollup(spark: SparkSession, dir: String): DataFrame =
    Tables.lineitem(spark, dir)
      .rollup(col("l_returnflag"), col("l_linestatus"))
      .agg(count(lit(1)).as("n"),
        sum(col("l_quantity").cast("decimal(18,2)")).cast("double").as("sum_qty"),
        grouping_id().as("gid"))

  /** CUBE grouping sets. */
  def q14Cube(spark: SparkSession, dir: String): DataFrame =
    Tables.orders(spark, dir)
      .cube(col("o_orderstatus"), col("o_orderpriority"))
      .agg(count(lit(1)).as("n"), grouping_id().as("gid"))

  /** Global top-k with deterministic tiebreak (SURVEY.md O3's honest
    * form): Catalyst plans TakeOrderedAndProject — no full sort at scale.
    */
  def q15TopK(spark: SparkSession, dir: String): DataFrame =
    Tables.orders(spark, dir)
      .orderBy(col("o_totalprice").desc, col("o_orderkey").asc)
      .limit(10)
      .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"))

  /** HAVING: post-aggregation filter. */
  def q16Having(spark: SparkSession, dir: String): DataFrame =
    Tables.orders(spark, dir)
      .groupBy(col("o_custkey"))
      .agg(count(lit(1)).as("n_orders"), dsum(col("o_totalprice")).as("spend"))
      .where(col("n_orders") >= 15)

  /** CASE WHEN bucketing + conditional aggregation. */
  def q17CaseWhen(spark: SparkSession, dir: String): DataFrame =
    Tables.orders(spark, dir)
      .select(
        when(col("o_totalprice") < 50000, lit("small"))
          .when(col("o_totalprice") < 150000, lit("medium"))
          .otherwise(lit("large")).as("bucket"),
        col("o_totalprice"))
      .groupBy(col("bucket"))
      .agg(count(lit(1)).as("n"), dsum(col("o_totalprice")).as("bucket_total"))

  /** String scalar functions (SURVEY.md §2.7 generalized): upper/lower,
    * substring, length, concat, replace, LIKE, regexp_extract.
    */
  def q18StringFuncs(spark: SparkSession, dir: String): DataFrame =
    Tables.part(spark, dir).select(
      col("p_partkey"),
      upper(col("p_brand")).as("brand_upper"),
      lower(col("p_type")).as("type_lower"),
      substring(col("p_name"), 1, 8).as("name_prefix"),
      length(col("p_name")).cast("long").as("name_len"),
      concat(col("p_brand"), lit("/"), col("p_type")).as("brand_type"),
      regexp_replace(col("p_brand"), "#", "-").as("brand_dashed"),
      col("p_name").like("%green%").as("is_green"),
      regexp_extract(col("p_name"), "([a-z]+)", 1).as("first_word")
    )

  /** Date/time scalar functions: year/month/day extraction, truncation,
    * interval arithmetic (SURVEY.md F1's date-math family).
    */
  def q19DateFuncs(spark: SparkSession, dir: String): DataFrame =
    Tables.orders(spark, dir).select(
      col("o_orderkey"),
      year(col("o_orderdate")).cast("long").as("order_year"),
      month(col("o_orderdate")).cast("long").as("order_month"),
      dayofmonth(col("o_orderdate")).cast("long").as("order_day"),
      date_trunc("month", col("o_orderdate")).as("month_start"),
      (col("o_orderdate") + expr("INTERVAL 30 DAY")).as("due_date")
    )

  /** Scalar subquery: rows above the global average — expressed as a
    * broadcast of a 1-row aggregate (same pattern as the trailing-window
    * `now`), never a driver collect.
    */
  def q20ScalarSubquery(spark: SparkSession, dir: String): DataFrame = {
    val o = Tables.orders(spark, dir)
    val stats = o.agg(
      (sum(col("o_totalprice").cast("decimal(18,2)")).cast("double") /
        count(lit(1))).as("avg_price"))
    o.crossJoin(broadcast(stats))
      .where(col("o_totalprice") > col("avg_price"))
      .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"))
  }

  /** Exact + approximate distinct counting. approx_count_distinct is the
    * 100 TB path (HLL, no shuffle of distinct values); exact is the
    * oracle-checkable one.
    */
  def q21CountDistinct(spark: SparkSession, dir: String): DataFrame =
    Tables.lineitem(spark, dir)
      .groupBy(col("l_returnflag"))
      .agg(
        countDistinct(col("l_orderkey")).as("n_orders"),
        countDistinct(col("l_partkey")).as("n_parts"),
        count(lit(1)).as("n_lines"))

  /** HLL approximate distinct — no oracle (sketch values are
    * implementation-specific); driver records rows-only.
    */
  def q22ApproxDistinct(spark: SparkSession, dir: String): DataFrame =
    Tables.lineitem(spark, dir)
      .groupBy(col("l_returnflag"))
      .agg(approx_count_distinct(col("l_orderkey"), 0.01).as("approx_orders"))

  /** Star-schema multi-join: region→nation→customer→orders→lineitem.
    * All dimensions broadcast; the only shuffle is the final groupBy.
    */
  def q23StarJoin(spark: SparkSession, dir: String): DataFrame = {
    val r = Tables.region(spark, dir)
    val n = Tables.nation(spark, dir)
    val c = Tables.customer(spark, dir)
    val o = Tables.orders(spark, dir)
    val li = Tables.lineitem(spark, dir)
    li.join(o, col("l_orderkey") === col("o_orderkey"))
      .join(broadcast(c), col("o_custkey") === col("c_custkey"))
      .join(broadcast(n), col("c_nationkey") === col("n_nationkey"))
      .join(broadcast(r), col("n_regionkey") === col("r_regionkey"))
      .groupBy(col("r_name"), col("n_name"))
      .agg(
        sum((col("l_extendedprice").cast("decimal(18,2)") *
          (lit(1).cast("decimal(18,2)") - col("l_discount").cast("decimal(18,2)"))))
          .cast("double").as("revenue"),
        count(lit(1)).as("n_lines"))
  }

  /** JSON extraction (SURVEY.md §2.7 `to_json` family, inverted):
    * get_json_object pushdown-friendly projection over events.props.
    */
  def q24Json(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir)
      .select(get_json_object(col("props"), "$.k").cast("long").as("k"),
        col("event_type"))
      .groupBy((col("k") % 10).as("k_mod"), col("event_type"))
      .agg(count(lit(1)).as("n"))

  /** Array functions over documents (SURVEY.md P3 `singleItem` family):
    * split, size, element_at, array_contains.
    */
  def q25ArrayFuncs(spark: SparkSession, dir: String): DataFrame = {
    val words = split(col("text"), " ")
    Tables.documents(spark, dir).select(
      col("doc_id"),
      size(words).cast("long").as("n_words"),
      element_at(words, 1).as("first_word"),
      element_at(words, -1).as("last_word"),
      array_contains(words, "spark").as("mentions_spark")
    )
  }

  /** Full-outer join — the remaining outer flavor. */
  def q26FullOuter(spark: SparkSession, dir: String): DataFrame = {
    val s = Tables.supplier(spark, dir)
      .groupBy(col("s_nationkey").cast("int").as("nationkey"))
      .agg(count(lit(1)).as("n_suppliers"))
    val c = Tables.customer(spark, dir)
      .groupBy(col("c_nationkey").cast("int").as("nationkey"))
      .agg(count(lit(1)).as("n_customers"))
    s.join(c, Seq("nationkey"), "full_outer")
      .select(col("nationkey"),
        coalesce(col("n_suppliers"), lit(0L)).as("n_suppliers"),
        coalesce(col("n_customers"), lit(0L)).as("n_customers"))
  }

  /** UNION ALL + dedup union (SURVEY.md A4 generalized). */
  def q27Union(spark: SparkSession, dir: String): DataFrame = {
    val s = Tables.supplier(spark, dir)
      .select(col("s_nationkey").cast("int").as("nationkey"))
    val c = Tables.customer(spark, dir)
      .select(col("c_nationkey").cast("int").as("nationkey"))
    s.unionAll(c).groupBy(col("nationkey")).agg(count(lit(1)).as("n"))
  }

  // --- Temporal joins (J3 generalization: operators Spark lacks) -------

  /** As-of join via union + window — NOT an inequality join. Spark has
    * no native ASOF; the naive formulation (theta-join on ts ≤ ts then
    * keep max) degenerates to a per-key cross product. This form tags
    * both sides, unions them, and takes `last(right value IGNORE NULLS)`
    * over a per-key window ordered by (ts, side) — right rows sort
    * before left rows at equal ts, so "most recent right row with
    * rt ≤ lt" falls out of a single shuffle on the key plus one linear
    * pass. Scales as sort-within-partition of key groups, never
    * materializing candidate pairs. (DuckDB verifies with its native
    * ASOF JOIN — a true differential test of the operator.)
    *
    * Fixture shape: each purchase event matched to the user's most
    * recent prior (or simultaneous) view event.
    */
  def q28AsofJoin(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir)
    val purchases = ev.where(col("event_type") === "purchase")
      .select(col("event_id"), col("user_id"), col("ts"))
    // dedup right side per (user, ts) so tie-breaking is engine-independent
    val views = ev.where(col("event_type") === "view")
      .groupBy(col("user_id"), col("ts").as("view_ts"))
      .agg(max(col("event_id")).as("view_event_id"))
    val tagged = purchases
      .withColumn("side", lit(1))
      .withColumn("view_ts", lit(null).cast("timestamp"))
      .withColumn("view_event_id", lit(null).cast("long"))
      .select(col("user_id"), col("ts"), col("side"), col("event_id"),
        col("view_ts"), col("view_event_id"))
      .unionAll(views
        .select(col("user_id"), col("view_ts").as("ts"), lit(0).as("side"),
          lit(null).cast("long").as("event_id"),
          col("view_ts"), col("view_event_id")))
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ts").asc, col("side").asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    tagged
      .withColumn("asof_view_ts", last(col("view_ts"), ignoreNulls = true).over(w))
      .withColumn("asof_view_event_id",
        last(col("view_event_id"), ignoreNulls = true).over(w))
      .where(col("side") === 1)
      .select(col("event_id"), col("user_id"), col("ts"),
        col("asof_view_ts"), col("asof_view_event_id"))
  }

  /** Time-band range join: per purchase, the user's view activity in
    * the trailing 1-day window. The user_id equality key keeps this an
    * equi-join (hash-partitioned both sides) with the band as a cheap
    * post-join refinement — the scale-safe shape; a keyless time-band
    * join would instead need bucket-overlap joining. Left join so
    * zero-activity purchases survive with count 0.
    */
  def q29RangeJoin(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir)
    val purchases = ev.where(col("event_type") === "purchase")
      .select(col("event_id"), col("user_id"), col("ts"))
    val views = ev.where(col("event_type") === "view")
      .select(col("user_id"), col("ts").as("view_ts"), col("value").as("view_value"))
    purchases
      .join(views,
        purchases("user_id") === views("user_id") &&
          col("view_ts") >= col("ts") - expr("INTERVAL 1 DAY") &&
          col("view_ts") < col("ts"),
        "left")
      .groupBy(purchases("user_id"), col("event_id"), col("ts"))
      .agg(
        count(col("view_ts")).as("n_prior_views"),
        sum(col("view_value").cast("decimal(18,2)")).cast("double")
          .as("prior_view_value"))
  }

  /** Sessionization: gap-based session assignment per user — boundary
    * when >30 min since the previous event; session id = running sum of
    * boundaries. Two windows over ONE shuffle on user_id (same
    * partitioning, no re-exchange), the standard scalable sessionize.
    */
  def q30Sessionize(spark: SparkSession, dir: String): DataFrame =
    sessionizeEvents(Tables.events(spark, dir))

  /** The gap-rule sessionizer over any events-shaped frame — shared
    * verbatim by [[q30Sessionize]] and the streaming session store
    * ([[graft.streaming.StreamingSessions]] runs it per micro-batch,
    * then merges the resulting intervals with the same 30-minute
    * tolerance).
    */
  private[graft] def sessionizeEvents(ev: DataFrame): DataFrame = {
    val byUser = Window.partitionBy(col("user_id"))
      .orderBy(col("ts").asc, col("event_id").asc)
    val runSum = byUser.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    ev.select(col("event_id"), col("user_id"), col("ts"))
      .withColumn("new_session",
        when(col("ts") - lag(col("ts"), 1).over(byUser) <=
          expr("INTERVAL 30 MINUTES"), lit(0)).otherwise(lit(1)))
      .withColumn("session_id", sum(col("new_session")).over(runSum))
      .groupBy(col("user_id"), col("session_id"))
      .agg(count(lit(1)).as("n_events"),
        min(col("ts")).as("session_start"),
        max(col("ts")).as("session_end"))
  }

  /** Fixed-width histogram over order totals: arithmetic bucketing keeps
    * this a single partial-agg shuffle (no sort, no range exchange).
    */
  def q31Histogram(spark: SparkSession, dir: String): DataFrame =
    Tables.orders(spark, dir)
      .groupBy(expr("CAST(floor(o_totalprice / 25000) AS INT)").as("bucket"))
      .agg(count(lit(1)).as("n"),
        dsum(col("o_totalprice")).as("bucket_total"))

  /** Exact interpolated percentiles per group. l_quantity is whole-
    * valued and p ∈ {.25,.5,.75}, so the interpolation arithmetic is
    * exact in binary and bit-identical to DuckDB's quantile_cont.
    */
  def q32Percentile(spark: SparkSession, dir: String): DataFrame =
    Tables.lineitem(spark, dir)
      .groupBy(col("l_returnflag"))
      .agg(
        expr("percentile(l_quantity, 0.25)").as("q25"),
        expr("percentile(l_quantity, 0.5)").as("median"),
        expr("percentile(l_quantity, 0.75)").as("q75"),
        count(lit(1)).as("n"))

  /** Pivot: event counts per user across a FIXED event-type column set
    * (explicit values keep the plan static — no driver-side distinct
    * pass — and the shuffle is one partial agg on user_id).
    */
  def q33Pivot(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir)
      .groupBy(col("user_id"))
      .pivot("event_type", Seq("view", "click", "purchase"))
      .agg(count(lit(1)))
      .na.fill(0L, Seq("view", "click", "purchase"))

  /** Salted two-level aggregation — the skew-mitigation pattern for hot
    * keys (stopwords dominate a word count the way hot entities
    * dominate any 100 TB groupBy): round 1 aggregates on
    * (key, salt = hash % 16) spreading each hot key over 16 reducers;
    * round 2 merges the per-salt partials. The salt is an execution
    * detail — the result (and the oracle) is a plain word count.
    */
  val SaltBuckets = 16

  def q34SaltedWordcount(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .select(explode(split(col("text"), " ")).as("word"))
      .withColumn("salt",
        pmod(xxhash64(monotonically_increasing_id()), lit(SaltBuckets)))
      .groupBy(col("word"), col("salt"))
      .agg(count(lit(1)).as("partial_n"))
      .groupBy(col("word"))
      .agg(sum(col("partial_n")).as("n"))

  /** Approximate quantiles via the Greenwald-Khanna sketch
    * (percentile_approx) — the mergeable-sketch path for quantiles at
    * scale, complementing the exact q32. Like the HLL sketch (q22), no
    * SQL oracle: sketch internals are engine-specific, so the driver
    * records a rows-only check.
    */
  def q35ApproxQuantile(spark: SparkSession, dir: String): DataFrame =
    Tables.lineitem(spark, dir)
      .groupBy(col("l_returnflag"))
      .agg(
        expr("percentile_approx(l_extendedprice, 0.5, 1000)").as("approx_median"),
        expr("percentile_approx(l_extendedprice, 0.99, 1000)").as("approx_p99"),
        count(lit(1)).as("n"))

  /** Rolling 7-day range-frame window per user: time-based frames are
    * the other window family (RANGE, not ROWS); decimal-accumulated
    * value sum keeps the result order-independent.
    */
  def q36RollingWindow(spark: SparkSession, dir: String): DataFrame = {
    // range frame over epoch-micros (numeric RANGE ordering)
    val w = Window.partitionBy(col("user_id")).orderBy(col("tsu"))
      .rangeBetween(-7L * 24 * 3600 * 1000000, 0)
    Tables.events(spark, dir)
      .withColumn("tsu", unix_micros(col("ts")))
      .select(col("event_id"), col("user_id"), col("ts"),
        sum(col("value").cast("decimal(18,2)")).over(w)
          .cast("double").as("rolling_7d_value"),
        count(lit(1)).over(w).as("rolling_7d_n"))
  }

  /** lead/lag/first/last navigation family over a per-user total order. */
  def q37LeadLag(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ts").asc, col("event_id").asc)
    val wf = w.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    Tables.events(spark, dir).select(
      col("event_id"), col("user_id"), col("ts"),
      lag(col("event_type"), 1).over(w).as("prev_type"),
      lead(col("event_type"), 1).over(w).as("next_type"),
      first(col("event_id")).over(wf).as("first_event"),
      last(col("event_id")).over(wf).as("last_event"))
  }

  /** Ordered funnel analysis (view → click → purchase): per user, the
    * deepest funnel stage reached respecting event ORDER — a purchase
    * before any view does not count. One shuffle on user_id; each
    * user's events collapse into a sorted array of (µs·8 + stage-code)
    * BIGINTs folded left by a tiny state machine — per-user state is
    * one int, so the aggregate buffer never grows with history, and
    * the encode keeps sorting + decoding in pure integer math that is
    * bit-identical in the DuckDB oracle (which seeds the same fold by
    * prepending the 0 sentinel, since `list_reduce` has no seed).
    */
  def q38Funnel(spark: SparkSession, dir: String): DataFrame = {
    val enc = expr(
      """unix_micros(ts) * 8 + CASE event_type
        |  WHEN 'view' THEN 1 WHEN 'click' THEN 2 WHEN 'purchase' THEN 3
        |  ELSE 0 END""".stripMargin)
    Tables.events(spark, dir)
      .where(col("event_type").isin("view", "click", "purchase"))
      .select(col("user_id"), enc.as("enc"))
      .groupBy(col("user_id"))
      .agg(
        expr("""aggregate(sort_array(collect_list(enc)), 0, (acc, x) -> CASE
          WHEN acc = 0 AND x % 8 = 1 THEN 1
          WHEN acc = 1 AND x % 8 = 2 THEN 2
          WHEN acc = 2 AND x % 8 = 3 THEN 3
          ELSE acc END)""").cast("long").as("funnel_stage"),
        count(lit(1)).as("n_funnel_events"))
  }

  /** Cohort retention: users grouped by first-activity day, activity
    * counted as distinct users per (cohort, day-offset) — the
    * engagement matrix behind every retention curve. Two partial-agg
    * shuffles (per-user min, then per-cell distinct); all date
    * arithmetic is integer day math, exact across engines.
    */
  def q39Retention(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir)
      .select(col("user_id"), to_date(col("ts")).as("day"))
    val cohort = ev.groupBy(col("user_id")).agg(min(col("day")).as("cohort_day"))
    ev.join(cohort, Seq("user_id"))
      .groupBy(col("cohort_day"),
        datediff(col("day"), col("cohort_day")).cast("long").as("day_offset"))
      .agg(countDistinct(col("user_id")).as("n_users"))
  }

  /** Explicit GROUPING SETS — the two single-column sets, which neither
    * ROLLUP (q13) nor CUBE (q14) can express on their own. One
    * aggregation pass over an Expand of the input (2 grouping branches),
    * partial-aggregated map-side like any groupBy.
    */
  def q40GroupingSets(spark: SparkSession, dir: String): DataFrame =
    Tables.lineitem(spark, dir)
      .groupingSets(
        Seq(Seq(col("l_returnflag")), Seq(col("l_linestatus"))),
        col("l_returnflag"), col("l_linestatus"))
      .agg(count(lit(1)).as("n"),
        sum(col("l_quantity").cast("decimal(18,2)")).cast("double").as("sum_qty"),
        grouping_id().as("gid"))

  /** Correlated EXISTS / NOT EXISTS subqueries, written as SQL so
    * Catalyst's RewritePredicateSubquery does the decorrelation: parts
    * with at least one max-quantity line but none of them returned.
    * Physical plan is a semi join plus an anti join against the same
    * pushed-down lineitem scan — the big side never builds a hash table.
    */
  def q41ExistsSubquery(spark: SparkSession, dir: String): DataFrame = {
    Tables.part(spark, dir).createOrReplaceTempView("graft_q41_part")
    Tables.lineitem(spark, dir).createOrReplaceTempView("graft_q41_lineitem")
    spark.sql(
      """SELECT p_partkey, p_brand, p_type
        |FROM graft_q41_part p
        |WHERE EXISTS (
        |    SELECT 1 FROM graft_q41_lineitem l
        |    WHERE l.l_partkey = p.p_partkey AND l.l_quantity >= 49)
        |  AND NOT EXISTS (
        |    SELECT 1 FROM graft_q41_lineitem l
        |    WHERE l.l_partkey = p.p_partkey AND l.l_quantity >= 49
        |      AND l.l_returnflag = 'R')""".stripMargin)
  }

  /** Correlated LATERAL subquery: top-3 customers per nation, written
    * as SQL so Catalyst's lateral-join decorrelation handles the
    * per-outer-row ORDER BY/LIMIT. Semantically the window top-N (q8)
    * in its SQL-surface form; the physical plan is a ranked window over
    * the one customer shuffle — the correlated limit never executes
    * per-row.
    */
  def q43LateralTopN(spark: SparkSession, dir: String): DataFrame = {
    Tables.nation(spark, dir).createOrReplaceTempView("graft_q43_nation")
    Tables.customer(spark, dir).createOrReplaceTempView("graft_q43_customer")
    spark.sql(
      """SELECT n.n_name, t.c_name, t.c_acctbal
        |FROM graft_q43_nation n, LATERAL (
        |  SELECT c_name, c_acctbal FROM graft_q43_customer c
        |  WHERE c.c_nationkey = n.n_nationkey
        |  ORDER BY c_acctbal DESC, c_name ASC LIMIT 3
        |) t""".stripMargin)
  }

  /** Heavy hitters via the native Misra-Gries aggregate
    * ([[graft.functions.MisraGriesAgg]]): top-20 users by event count.
    *
    * The exact form of this question shuffles one row per DISTINCT key;
    * the sketch reduces every map task to ≤ capacity counters before
    * the exchange, so the wire cost is |tasks|·capacity regardless of
    * key cardinality — the shape that survives a 100 TB URL/n-gram
    * domain. Capacity 4096 exceeds the distinct user count at every
    * test SF (150 at sf0.01, 1500 at sf0.1), so the sketch runs in its
    * exact regime and the DuckDB GROUP-BY oracle is a valid
    * differential check; the approximate regime's n/(k+1) bound is
    * pinned by MisraGriesAggSpec.
    */
  def q44HeavyHitters(spark: SparkSession, dir: String): DataFrame = {
    graft.plans.GraftExtensions.register(spark)
    Tables.events(spark, dir)
      .agg(expr("misra_gries(user_id, 4096)").as("hh"))
      .select(explode(col("hh")).as("e"))
      .select(col("e.item").as("user_id"), col("e.cnt").as("events"))
      .orderBy(col("events").desc, col("user_id").asc)
      .limit(20)
  }

  /** Count-Min frequency estimates for a fixed probe set of keys,
    * against one corpus-wide sketch ([[graft.functions.CountMinAgg]]).
    * The sketch is the "how often does THIS item occur" complement of
    * q44's "which items are heavy": one `depth × width` counter grid
    * aggregated with map-side partials (the exchange carries
    * |tasks| · depth · width longs, key-cardinality-independent),
    * broadcast as a single row, probed per key with a pure-arithmetic
    * min-over-rows lookup. Runs in the sketch's EXACT regime
    * (width 2048 > max user_id at every test SF, and row 0 is the
    * identity hash — see CountMinAgg's Scaladoc), so the DuckDB exact
    * count LEFT JOIN is a valid differential oracle; the approximate
    * regime's one-sided bound is pinned by CountMinAggSpec.
    *
    * The exact-regime precondition is CHECKED, not assumed: the sketch
    * aggregate also carries max(user_id), and an `assert_true` guard in
    * the probe fails the query loudly if the domain ever outgrows the
    * width (user_id scales ~15000 at sf1, where a silent overflow would
    * turn the exact oracle into a false mismatch). Zero extra jobs —
    * the max rides the same aggregate as the sketch.
    */
  def q46CmsCounts(spark: SparkSession, dir: String): DataFrame = {
    graft.plans.GraftExtensions.register(spark)
    val (depth, width) = (4, 2048)
    val sketch = Tables.events(spark, dir)
      .agg(expr(s"cms_sketch(user_id, $depth, $width)").as("sk"),
        max(col("user_id")).as("mx"))
    spark.range(0, 200).select(col("id").as("user_id"))
      .crossJoin(broadcast(sketch))
      .where(expr(s"assert_true(mx IS NULL OR mx < $width, " + // NULL = empty table: nothing to overflow
        s"'q46 exact-regime precondition violated: max(user_id) >= width $width') IS NULL"))
      .select(col("user_id"),
        expr(graft.functions.CountMinAgg.lookupExpr("sk", "user_id", depth, width))
          .as("events_est"))
  }

  /** HyperLogLog distinct-cardinality sketch per event type
    * ([[graft.functions.HyperLogLogAgg]]) — the "how many DISTINCT
    * items" member of the sketch trio (q44 Misra-Gries heavy hitters,
    * q46 Count-Min frequencies). Emits, per group, the exact distinct
    * count alongside the sketch's integer-scaled harmonic sum S, the
    * zero-register count, and the raw HLL estimate `K / S` — every
    * ingredient reproducible in plain SQL (md5-device hash, bin-string
    * rank, integer power-of-two sums, one IEEE division with a
    * Scala-folded constant K), so unlike q22's opaque builtin sketch
    * this one is fully HASH-GREEN against the DuckDB mirror that
    * recomputes the registers from scratch. At 100 TB the aggregate
    * ships one 2^p-entry register file per map task (cardinality- and
    * row-count-independent — probed flat across 1e3→1e8 distinct keys
    * in the README scale table) and its element-wise-max merge is
    * idempotent, so overlapping replays cannot corrupt it.
    */
  val HllP = 12

  def q47HllDistinct(spark: SparkSession, dir: String): DataFrame = {
    graft.plans.GraftExtensions.register(spark)
    val maxRank = 60 - HllP + 1
    Tables.events(spark, dir)
      .groupBy(col("event_type"))
      .agg(expr(s"hll_sketch(user_id, $HllP)").as("regs"),
        countDistinct(col("user_id")).as("n_exact"))
      .select(col("event_type"), col("n_exact"),
        expr(s"aggregate(regs, 0L, (acc, r) -> acc + shiftleft(1L, $maxRank - CAST(r AS INT)))")
          .as("hll_s"),
        expr("aggregate(regs, 0L, (acc, r) -> acc + IF(r = 0L, 1L, 0L))")
          .as("hll_zero"))
      .withColumn("hll_est",
        lit(graft.functions.HyperLogLogAgg.estimatorK(HllP)) / col("hll_s").cast("double"))
  }

  /** K-minimum-values distinct sketch per event type
    * ([[graft.functions.KmvAgg]]) — the fourth sketch-family member:
    * q44 answers "which items are heavy", q46 "how often does THIS
    * item occur", q47 "how many distinct", and this one "how many
    * distinct, AND give me a composable uniform sample of them" (the
    * bottom-k hash set supports set-intersection estimates q47's
    * registers cannot). Emits per group the exact distinct count, the
    * kept-hash count, the k-th smallest hash, and the KMV estimate —
    * `(k−1)·2^60 / h_k` in the sketch regime, the exact kept count
    * below capacity. Every ingredient is plain SQL on both engines
    * (md5-device hash, `row_number() <= k`, one IEEE division with a
    * Scala-folded numerator), so the query is fully HASH-GREEN like
    * q47 and unlike q22's opaque builtin. At 100 TB each map task
    * ships ≤ k longs per group and the sorted-union merge is
    * idempotent (replay-safe; KmvAggSpec pins both).
    */
  val KmvK = 256

  def q48KmvDistinct(spark: SparkSession, dir: String): DataFrame = {
    graft.plans.GraftExtensions.register(spark)
    Tables.events(spark, dir)
      .groupBy(col("event_type"))
      .agg(expr(s"kmv_sketch(user_id, $KmvK)").as("ks"),
        countDistinct(col("user_id")).as("n_exact"))
      .select(col("event_type"), col("n_exact"),
        size(col("ks")).cast("long").as("n_kept"),
        expr("try_element_at(ks, size(ks))").as("kmv_kth"))
      .withColumn("kmv_est",
        when(col("n_kept") < KmvK, col("n_kept").cast("double"))
          .otherwise(
            lit(graft.functions.KmvAgg.estimatorNum(KmvK)) /
              col("kmv_kth").cast("double")))
  }

  /** KMV set algebra — the composability claim the bottom-k sketch is
    * built on, exercised: for every event-type PAIR, estimate the
    * Jaccard of their (huge at scale) distinct-user sets from sketches
    * alone. The union sketch is the bottom-k of the merged hash
    * stream; J ≈ |union-sketch ∩ sketch_A ∩ sketch_B| / k_used (the
    * Beyer et al. 2007 estimator, with k_used = |union sketch| ≤ K so
    * small unions stay exact). The KMV hash is [[q48KmvDistinct]]'s —
    * distinct 60-bit md5-rotation values, so bottom-k is
    * tie-free-deterministic and BOTH engines rank identically: even
    * the SKETCH columns hash green, the same property the q47/q48
    * registrations prove for HLL/KMV counting.
    *
    * Exact intersection/union/Jaccard ride along as gauge columns
    * (fixture-affordable; at 100 TB only the sketches exist — the
    * recall-gauge convention of the ANN family). Shape: sketch build
    * is one distinct + per-type WindowGroupLimit; pair work touches
    * ≤ |types|²·K sketch rows, corpus-independent.
    */
  def q57KmvJaccard(spark: SparkSession, dir: String): DataFrame = {
    val hashed = Tables.events(spark, dir)
      .where(col("user_id").isNotNull)
      .select(col("event_type"),
        md5(col("user_id").cast("string")).as("hh"))
      .select(col("event_type"), TextOps.rotLong("hh", 0).as("h"))
      .distinct()
    val wT = Window.partitionBy(col("event_type")).orderBy(col("h"))
    val sk = hashed.withColumn("rn", row_number().over(wT))
      .where(col("rn") <= KmvK).select(col("event_type"), col("h"))
    val types = hashed.select(col("event_type")).distinct()
    val pairs = broadcast(types.select(col("event_type").as("type_a")))
      .join(broadcast(types.select(col("event_type").as("type_b"))),
        col("type_a") < col("type_b"))
    val uh = pairs.join(hashed,
        col("event_type") === col("type_a") || col("event_type") === col("type_b"))
      .select(col("type_a"), col("type_b"), col("h")).distinct()
    val wU = Window.partitionBy(col("type_a"), col("type_b")).orderBy(col("h"))
    val uk = uh.withColumn("rn", row_number().over(wU))
      .where(col("rn") <= KmvK).select(col("type_a"), col("type_b"), col("h"))
    val common = uk
      .join(sk.select(col("event_type").as("type_a"), col("h")),
        Seq("type_a", "h"), "left_semi")
      .join(sk.select(col("event_type").as("type_b"), col("h")),
        Seq("type_b", "h"), "left_semi")
      .groupBy(col("type_a"), col("type_b"))
      .agg(count(lit(1)).as("n_common"))
    val kUsed = uk.groupBy(col("type_a"), col("type_b"))
      .agg(count(lit(1)).as("k_used"))
    // exact gauges over the true distinct-user sets
    val du = Tables.events(spark, dir).where(col("user_id").isNotNull)
      .select(col("event_type"), col("user_id")).distinct()
    val nPer = du.groupBy(col("event_type")).agg(count(lit(1)).as("nd"))
    val inter = pairs
      .join(du.select(col("event_type").as("type_a"), col("user_id")), Seq("type_a"))
      .join(du.select(col("event_type").as("type_b"), col("user_id")),
        Seq("type_b", "user_id"), "left_semi")
      .groupBy(col("type_a"), col("type_b"))
      .agg(count(lit(1)).as("n_inter_exact"))
    pairs
      .join(kUsed, Seq("type_a", "type_b"))
      .join(common, Seq("type_a", "type_b"), "left")
      .join(inter, Seq("type_a", "type_b"), "left")
      .join(broadcast(nPer.select(col("event_type").as("type_a"), col("nd").as("na"))),
        Seq("type_a"))
      .join(broadcast(nPer.select(col("event_type").as("type_b"), col("nd").as("nb"))),
        Seq("type_b"))
      .select(col("type_a"), col("type_b"), col("k_used"),
        coalesce(col("n_common"), lit(0L)).as("n_common"),
        (coalesce(col("n_common"), lit(0L)).cast("double") /
          col("k_used").cast("double")).as("jaccard_est"),
        coalesce(col("n_inter_exact"), lit(0L)).as("n_inter_exact"),
        (col("na") + col("nb") - coalesce(col("n_inter_exact"), lit(0L)))
          .as("n_union_exact"),
        (coalesce(col("n_inter_exact"), lit(0L)).cast("double") /
          (col("na") + col("nb") - coalesce(col("n_inter_exact"), lit(0L)))
            .cast("double")).as("jaccard_exact"))
  }

  /** Rank-function family over one window: ntile quartiles, percent_rank
    * and cume_dist per order priority. The window's total order includes
    * the key (o_orderkey) so ranks are deterministic under any
    * partitioning; percent_rank/cume_dist are small-integer ratios
    * evaluated in double — bit-equal across engines.
    */
  def q42RankFamily(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("o_orderpriority"))
      .orderBy(col("o_totalprice").desc, col("o_orderkey").asc)
    Tables.orders(spark, dir)
      .select(col("o_orderpriority"), col("o_orderkey"), col("o_totalprice"),
        ntile(4).over(w).cast("long").as("quartile"),
        percent_rank().over(w).as("pct_rank"),
        cume_dist().over(w).as("cume"))
  }

  // --- Deterministic sampling -------------------------------------------

  /** Weighted-sample size per group. */
  val WsK = 10

  /** Replication cap: weights quantize to 1..[[WsCap]] units. */
  val WsCap = 8L

  /** Weighted sampling WITHOUT replacement, [[WsK]] events per event
    * type, inclusion proportional to a quantized event weight — the
    * importance-sampling primitive of data curation (upweight rare/
    * high-quality records when downsampling a 100 TB corpus).
    *
    * The classic A-ES scheme ranks items by u^(1/w) (Efraimidis &
    * Spirakis 2006) — a transcendental whose cross-engine bit-equality
    * IEEE doesn't promise. This is the integer-grid reformulation
    * (the [[graft.operators.Retrieval]] RRF device): each item gets
    * `w` integer replication units, each unit an independent 60-bit
    * md5 hash, and the item's key is the MIN of its units. Taking
    * items in ascending key order realizes the identical successive
    * weighted-without-replacement law — the global min lands on item i
    * with probability wᵢ/Σw by unit symmetry, and conditioning on
    * removing the winner's units leaves the same scheme over the rest
    * — while every comparison is exact 60-bit integer order, bit-equal
    * in any engine with md5 (A-ES and min-of-w-uniforms differ in key
    * MARGINALS, not in the induced sampling law).
    *
    * Weights here quantize `value` to 1..[[WsCap]] units by a
    * power-of-two divisor (exact IEEE division, exact floor — no
    * boundary wobble). Shape at 100 TB: the unit explode is a per-row
    * Generate (≤ cap× rows, no exchange), the per-item min is a
    * codegen'd partial agg on the (type, event) key, and the rank ≤ k
    * window gets the partial WindowGroupLimit cut — each map task
    * ships at most k rows per group.
    */
  def q49WeightedSample(spark: SparkSession, dir: String): DataFrame = {
    // greatest(1, ·): a non-positive quantized weight would make
    // sequence(1, w) DESCEND on the Spark side ([1, 0] — step defaults
    // to -1 when start > stop) while DuckDB's range(1, w+1) is empty —
    // a latent cross-engine divergence on corpora with negative
    // values. The floor also keeps the sampling law total: every item
    // carries at least one unit.
    val keyed = Tables.events(spark, dir)
      .select(col("event_type"), col("event_id"),
        greatest(lit(1L),
          least(lit(WsCap), lit(1L) + floor(col("value") / 64.0d).cast("long")))
          .as("weight"))
      .select(col("event_type"), col("event_id"), col("weight"),
        explode(expr("sequence(1L, weight)")).as("r"))
      .select(col("event_type"), col("event_id"), col("weight"),
        TextOps.rotLong("md5(concat_ws(':', event_id, r))", 0).as("unit_key"))
      .groupBy(col("event_type"), col("event_id"))
      .agg(max(col("weight")).as("weight"), min(col("unit_key")).as("sample_key"))
    val w = Window.partitionBy(col("event_type"))
      .orderBy(col("sample_key").asc, col("event_id").asc)
    keyed.withColumn("rank", row_number().over(w).cast("long"))
      .where(col("rank") <= WsK)
      .select(col("event_type"), col("rank"), col("event_id"),
        col("weight"), col("sample_key"))
  }

  /** Uniform-sample size per group (the quantile sketch's k). */
  val SqK = 256

  /** Quantiles from a deterministic bottom-k-by-hash sample — the
    * ORDER-INDEPENDENT, MERGEABLE quantile sketch: keep the [[SqK]]
    * events whose 60-bit md5(event_id) hashes are smallest per event
    * type (a uniform random-but-deterministic sample — the KMV set of
    * q48, carrying values), then read sample quantiles off the sorted
    * sample at index floor((m−1)·q). Merge = union + re-take bottom k
    * (associative, idempotent — replays can't corrupt it), which is
    * what GK/KLL compactors do NOT give: their state depends on
    * arrival order, so no exact cross-engine or cross-partitioning
    * oracle can exist for them (q35 is rows-only for exactly that
    * reason; this operator is the hash-green member of the quantile
    * family, at the price of √k-vs-1/k error — pinned in spec).
    *
    * Every ingredient is engine-neutral: md5 hash order, integer
    * `div` index arithmetic, and values copied (never computed), so
    * the result is bit-equal to the DuckDB mirror. Shape at 100 TB:
    * the rank ≤ k window gets the partial WindowGroupLimit cut (each
    * map task ships ≤ k rows per group) and the final per-group
    * sorted-array fold touches k values — group count × k total.
    */
  def q50SampleQuantiles(spark: SparkSession, dir: String): DataFrame =
    sampleQuantiles(bottomKSample(Tables.events(spark, dir)))

  /** The sketch half of [[q50SampleQuantiles]]: per-type bottom-[[SqK]]
    * rows by 60-bit md5(event_id) — the mergeable sample. Factored so
    * the STREAMING store ([[graft.streaming.StreamingQuantiles]])
    * reduces each micro-batch and re-takes over the union through the
    * identical code.
    */
  private[graft] def bottomKSample(ev: DataFrame, k: Int = SqK): DataFrame = {
    val w = Window.partitionBy(col("event_type"))
      .orderBy(col("h").asc, col("event_id").asc)
    ev.select(col("event_type"), col("event_id"), col("value"),
        TextOps.rotLong("md5(CAST(event_id AS STRING))", 0).as("h"))
      .withColumn("rn", row_number().over(w))
      .where(col("rn") <= k)
      .select(col("event_type"), col("event_id"), col("value"), col("h"))
  }

  /** The readout half of [[q50SampleQuantiles]]: quantiles copied off
    * each type's sorted sample values.
    */
  private[graft] def sampleQuantiles(sample: DataFrame): DataFrame =
    sample
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_sampled"),
        sort_array(collect_list(col("value"))).as("vs"))
      .select(col("event_type"), col("n_sampled"),
        expr("element_at(vs, 1)").as("sample_min"),
        expr("element_at(vs, CAST((n_sampled - 1) DIV 4 AS INT) + 1)").as("p25"),
        expr("element_at(vs, CAST((n_sampled - 1) DIV 2 AS INT) + 1)").as("p50"),
        expr("element_at(vs, CAST(3 * (n_sampled - 1) DIV 4 AS INT) + 1)").as("p75"),
        expr("element_at(vs, CAST(n_sampled AS INT))").as("sample_max"))

  // --- Sequence analytics -----------------------------------------------

  /** First-order Markov transition estimates over per-user event
    * sequences: for each (prev_type → next_type) pair the transition
    * count and row-normalized probability — the sequence-statistics
    * complement of q38's fixed-pattern funnel (q38 asks "how many
    * users complete THIS path", this asks "what does the empirical
    * transition kernel look like").
    *
    * Ordering within a user is (ts, event_id) — the id tiebreak makes
    * the lag deterministic even when one user has simultaneous events.
    * Probabilities are IEEE divisions of exact integer counts
    * (bit-equal cross-engine, the house rule). Shape at 100 TB: one
    * user-keyed exchange for the lag window (sessions are naturally
    * small), then a partial-aggregated (prev, next) count whose
    * reduce side is |types|² rows; the per-prev totals ride a window
    * over that tiny aggregate, not a second corpus shuffle.
    */
  def evtTransitions(spark: SparkSession, dir: String): DataFrame = {
    val seq0 = Window.partitionBy(col("user_id"))
      .orderBy(col("ts").asc, col("event_id").asc)
    val counts = Tables.events(spark, dir)
      .select(col("user_id"), col("event_type"),
        lag(col("event_type"), 1).over(seq0).as("prev_type"))
      .where(col("prev_type").isNotNull)
      .groupBy(col("prev_type"), col("event_type").as("next_type"))
      .agg(count(lit(1)).as("n"))
    counts
      .withColumn("prev_total",
        sum(col("n")).over(Window.partitionBy(col("prev_type"))))
      .select(col("prev_type"), col("next_type"), col("n"),
        (col("n").cast("double") / col("prev_total").cast("double")).as("p"))
  }

  /** Sliding-window span in days (window = day−6 .. day). */
  val RollingDays = 7

  /** Rolling 7-day DISTINCT users per event type — the sliding-window
    * cardinality ask window functions cannot express (SQL forbids
    * `COUNT(DISTINCT) OVER (RANGE ...)`, and Spark follows). The
    * classic workaround is a day-range self-join — a range join whose
    * per-anchor fan-in re-scans the window. This operator uses the
    * scale shape instead: each distinct (type, day, user) observation
    * EXPLODES into the ≤ [[RollingDays]] anchor days it contributes
    * to (`sequence(day, day+6)`), turning the range join into one
    * partial-aggregated equi-keyed groupBy — shuffle volume is
    * 7 × |distinct observations|, with no join at all. Anchors are
    * then clipped to days the type was actually observed (a tiny
    * semi-join), matching the "report on observed days" convention of
    * [[evtAnomaly]].
    *
    * The HLL twin [[evtRollingDistinctHll]] does the same window
    * algebra over MERGEABLE register files — the form that survives
    * when per-window distinct sets no longer fit (100 TB: billions of
    * users × thousands of days), at sketch precision.
    */
  def evtRollingDistinct(spark: SparkSession, dir: String): DataFrame = {
    val obs = Tables.events(spark, dir)
      .select(col("event_type"), to_date(col("ts")).as("day"), col("user_id"))
      .distinct()
    val contrib = obs.select(col("event_type"), col("user_id"),
      explode(expr(s"sequence(day, date_add(day, ${RollingDays - 1}))")).as("day"))
    val observedDays = obs.select(col("event_type"), col("day")).distinct()
    contrib
      .join(observedDays, Seq("event_type", "day"), "left_semi")
      .groupBy(col("event_type"), col("day"))
      .agg(countDistinct(col("user_id")).as("n_users_7d"))
  }

  /** [[evtRollingDistinct]] at sketch precision: per-(type, day) HLL
    * register files (the q47 aggregate), window-merged by the SAME
    * explode-to-equi-join device — but what flows is a fixed 2^p
    * register array per (type, day) cell, element-wise-MAX-merged per
    * anchor window, independent of user cardinality. Emits the q47
    * ingredient columns (exact integer harmonic sum, zero count, one
    * IEEE division), so the DuckDB mirror rebuilds every window's
    * registers from scratch and the query is fully HASH-GREEN — the
    * estimate is checked bit-for-bit, not within a tolerance. The
    * emitted `hll_est` is the RAW estimator; at small cardinalities a
    * consumer applies the standard linear-counting correction
    * `m·ln(m / hll_zero)` — deliberately left out of the query
    * because `ln` is transcendental (cross-engine hash-dirty); the
    * spec applies it and pins accuracy on the fixture.
    */
  def evtRollingDistinctHll(spark: SparkSession, dir: String): DataFrame = {
    graft.plans.GraftExtensions.register(spark)
    val maxRank = 60 - HllP + 1
    // NULL users carry no registers, but an all-NULL (type, day) would
    // still mint an ANCHOR day if it survived to observedDays — this
    // query's observed-day convention counts only days with at least
    // one real user (the oracle's `user_id IS NOT NULL` obs filter),
    // so the filter runs BEFORE the daily aggregate, not just inside
    // the sketch.
    val daily = Tables.events(spark, dir)
      .where(col("user_id").isNotNull)
      .groupBy(col("event_type"), to_date(col("ts")).as("day"))
      .agg(expr(s"hll_sketch(user_id, $HllP)").as("regs"))
    // SPARSE register flow: zero registers carry no information in a
    // max-merge, so they are dropped before the window fan-out — at
    // fixture daily cardinalities that is ~66 live registers per cell
    // instead of 2^12 (measured 1.74 s → sub-second), and at any
    // cardinality it bounds the shuffle by min(2^p, daily distinct).
    // The all-zero accounting is reconstructed arithmetically at the
    // end (m − observed buckets), the q47-oracle device itself.
    val contrib = daily
      .select(col("event_type"), col("regs"),
        explode(expr(s"sequence(day, date_add(day, ${RollingDays - 1}))")).as("wday"))
      .select(col("event_type"), col("wday").as("day"),
        posexplode(col("regs")).as(Seq("bucket", "r")))
      .where(col("r") > 0L)
    val observedDays = daily.select(col("event_type"), col("day")).distinct()
    val m = 1L << HllP
    contrib
      .join(observedDays, Seq("event_type", "day"), "left_semi")
      .groupBy(col("event_type"), col("day"), col("bucket"))
      .agg(max(col("r")).as("r"))
      .groupBy(col("event_type"), col("day"))
      .agg(
        sum(expr(s"shiftleft(1L, $maxRank - CAST(r AS INT))")).as("s_obs"),
        count(lit(1)).as("n_obs"))
      .select(col("event_type"), col("day"),
        (col("s_obs") + (lit(m) - col("n_obs")) * (1L << maxRank)).as("hll_s"),
        (lit(m) - col("n_obs")).as("hll_zero"))
      .withColumn("hll_est",
        lit(graft.functions.HyperLogLogAgg.estimatorK(HllP)) / col("hll_s").cast("double"))
  }

  /** Deep pagination — the ES `from`+`size` surface (page
    * [[PageFrom]]+1 .. [[PageFrom]]+[[PageSize]] of customers per
    * nation, richest first, custkey tiebreak). The rank window's
    * `rank ≤ from+size` bound gets the partial WindowGroupLimit cut,
    * so each map task ships from+size rows per group — which is
    * exactly why ES caps from+size (default 10k) and why DEEP paging
    * switches to `search_after`: replacing the `rank > from` filter
    * with a key-predicate (`(acctbal, custkey) < last-seen`) turns
    * the same query into a top-`size` scan whose cost never grows
    * with page depth. This operator is the from+size member; the
    * reference's own source pagination (S1, `search_after` over the
    * PIT) is the other half, already exercised by every paged scan.
    */
  val PageFrom = 10
  val PageSize = 10

  def q52Pagination(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("c_nationkey"))
      .orderBy(col("c_acctbal").desc, col("c_custkey").asc)
    Tables.customer(spark, dir)
      .select(col("c_nationkey"), col("c_custkey"), col("c_name"), col("c_acctbal"))
      .withColumn("rank", row_number().over(w).cast("long"))
      .where(col("rank") > PageFrom && col("rank") <= PageFrom + PageSize)
  }

  /** Keyset (`search_after`) pagination — the DEEP-paging rewrite q52's
    * Scaladoc describes and the reference actually runs (its source
    * pagination carries the last hit's sort values forward as the next
    * page's cursor): page [[PageFrom]]+1 .. [[PageFrom]]+[[PageSize]]
    * of the GLOBAL (acctbal desc, custkey asc) customer order, fetched
    * as a top-[[PageSize]] scan under the key predicate
    * `(c_acctbal, c_custkey) < last-seen` — in sort-order terms
    * `bal < b OR (bal = b AND key > k)`. No rank window anywhere: both
    * the cursor fetch (the client REMEMBERS it between requests; here
    * it is derived as the sort-order max over the first-PageFrom
    * TakeOrdered, a PageFrom-row frame) and the page itself are
    * TakeOrderedAndProject — per-partition heaps of from/size rows, so
    * cost never grows with page depth, which is exactly why ES caps
    * from+size and productionizes this form. PlanAuditSpec pins the
    * no-window / TakeOrdered cost shape.
    */
  def q53KeysetPage(spark: SparkSession, dir: String): DataFrame = {
    val c = Tables.customer(spark, dir)
      .select(col("c_custkey"), col("c_name"), col("c_acctbal"))
    // the cursor: sort-order LAST of the first PageFrom rows = min
    // acctbal, ties to max custkey (negated key under a plain min)
    val cursor = c.orderBy(col("c_acctbal").desc, col("c_custkey").asc)
      .limit(PageFrom)
      .agg(min(struct(col("c_acctbal"), (-col("c_custkey")).as("negkey")))
        .as("b"))
      .select(col("b.c_acctbal").as("b_acctbal"), (-col("b.negkey")).as("b_custkey"))
    c.join(broadcast(cursor))
      .where(col("c_acctbal") < col("b_acctbal") ||
        (col("c_acctbal") === col("b_acctbal") && col("c_custkey") > col("b_custkey")))
      .select(col("c_custkey"), col("c_name"), col("c_acctbal"))
      .orderBy(col("c_acctbal").desc, col("c_custkey").asc)
      .limit(PageSize)
  }

  /** Composite-aggregation page size and after-key cursor (the ES
    * `composite` agg's `size` / `after`). */
  val CompositePageSize = 20
  val CompositeAfterNation = 7L
  val CompositeAfterSegment = "BUILDING"

  /** Composite aggregation (ES `composite` agg with `after`) — KEYSET
    * pagination over GROUP BY results: groups are totally ordered by
    * their key tuple and each request fetches the next
    * [[CompositePageSize]] groups strictly after the `after` cursor.
    * This is the agg-side twin of [[q53KeysetPage]] (rows → groups),
    * and the only way ES exposes unbounded-cardinality aggregations.
    *
    * The cursor predicate is on RAW scan columns
    * (`nation > a OR (nation = a AND segment > b)`), so it sits BELOW
    * the aggregation and pushes into the parquet scan — skipped groups
    * are never aggregated, which is exactly why composite beats
    * from+size `terms` paging at depth (and with the table laid out /
    * partitioned by the leading key column, the filter becomes
    * partition pruning and the scan itself shrinks). The page cut is a
    * TakeOrdered over the surviving groups, map-side k per task.
    */
  def q54CompositeAgg(spark: SparkSession, dir: String): DataFrame = {
    Tables.customer(spark, dir)
      .where(col("c_nationkey") > CompositeAfterNation ||
        (col("c_nationkey") === CompositeAfterNation &&
          col("c_mktsegment") > CompositeAfterSegment))
      .groupBy(col("c_nationkey"), col("c_mktsegment"))
      .agg(count(lit(1)).as("n_cust"),
        sum(col("c_acctbal").cast("decimal(18,2)")).cast("double")
          .as("sum_acctbal"))
      .orderBy(col("c_nationkey").asc, col("c_mktsegment").asc)
      .limit(CompositePageSize)
  }

  /** Median absolute deviation (ES `median_absolute_deviation` agg),
    * exact two-pass form: per-group median, then the median of
    * absolute deviations from it — the robust dispersion measure that
    * shrugs off the outliers variance amplifies (ES computes it over
    * TDigest sketches; the exact form is this operator, and [[q35]]'s
    * sketch discussion covers the approximate path). Same exact-
    * percentile device as [[q32Percentile]] (hash-green precedent);
    * the |groups|-row median table broadcasts back for pass two, so
    * the corpus shuffles twice on the same group key and nothing else
    * moves.
    */
  def q55Mad(spark: SparkSession, dir: String): DataFrame = {
    val li = Tables.lineitem(spark, dir)
      .select(col("l_returnflag"), col("l_quantity"))
    val med = li.groupBy(col("l_returnflag"))
      .agg(expr("percentile(l_quantity, 0.5)").as("median"))
    li.join(broadcast(med), Seq("l_returnflag"))
      .groupBy(col("l_returnflag"))
      .agg(min(col("median")).as("median"),
        expr("percentile(abs(l_quantity - median), 0.5)").as("mad"),
        count(lit(1)).as("n"))
  }

  /** Extended stats (ES `extended_stats` agg): count / min / max /
    * sum / avg / sum-of-squares / population variance / population
    * std-dev in ONE aggregation pass. Moments are accumulated in
    * EXACT integer space (quantities are integral; DECIMAL(38,0)
    * sums and products — the [[evtAnomaly]] device, immune to both
    * FP summation order and the 64-bit overflow a true 100 TB group
    * would hit), with the variance formed as
    * `(n·Σx² − (Σx)²) / n²` — exact numerator, one IEEE division,
    * then one sqrt: bit-identical across engines and partitionings
    * where a running double variance would wobble.
    */
  def q56ExtendedStats(spark: SparkSession, dir: String): DataFrame = {
    def d38(c: org.apache.spark.sql.Column) = c.cast("decimal(38,0)")
    Tables.lineitem(spark, dir)
      .groupBy(col("l_returnflag"))
      .agg(
        count(lit(1)).as("n"),
        min(col("l_quantity")).as("min_q"),
        max(col("l_quantity")).as("max_q"),
        sum(d38(col("l_quantity"))).as("s"),
        sum(d38(col("l_quantity")) * d38(col("l_quantity"))).as("ss"))
      .select(col("l_returnflag"), col("n"), col("min_q"), col("max_q"),
        col("s").cast("double").as("sum_q"),
        (col("s").cast("double") / col("n").cast("double")).as("avg_q"),
        col("ss").cast("double").as("sum_sq"),
        ((d38(col("n")) * col("ss") - col("s") * col("s")).cast("double") /
          (col("n").cast("double") * col("n").cast("double")))
          .as("variance_pop"))
      .withColumn("std_pop", sqrt(col("variance_pop")))
  }

  /** Pipeline aggregations over date-histogram buckets (ES
    * `derivative` + `moving_fn` + `cumulative_sum` in one pass): per
    * (type, day) daily counters carry their day-over-day delta, the
    * 7-bucket trailing moving average, and the running total — the
    * bucket-level window family ES layers on a date_histogram, which
    * is NOT [[q36RollingWindow]]'s row-level frame (these windows
    * slide over AGGREGATED buckets, so the window input is the tiny
    * counter table, never the corpus). Determinism: counts are exact
    * longs, the moving average is one integer-sum ÷ integer-count IEEE
    * division, day is unique per type so the order is total.
    * Shape at 100 TB: one partial-aggregated counter shuffle; all
    * three windows ride the |types|·|days| aggregate.
    */
  /** Lag for [[evtSerialDiff]] (ES `serial_diff` `lag` — 7 days, the
    * week-over-week seasonality remover). */
  val SerialDiffLag = 7

  /** ES `serial_diff` pipeline aggregation: the lag-[[SerialDiffLag]]
    * difference over the per-(type, day) counter buckets — the
    * seasonal twin of [[evtPipelineAggs]]'s lag-1 derivative (weekly
    * cycles cancel; what remains is trend + anomaly). Window over the
    * tiny daily aggregate, never the corpus; the first lag buckets
    * carry NULL exactly as ES emits nothing for them.
    */
  def evtSerialDiff(spark: SparkSession, dir: String): DataFrame = {
    val daily = Tables.events(spark, dir)
      .groupBy(col("event_type"), to_date(col("ts")).as("day"))
      .agg(count(lit(1)).as("n"))
    val w = Window.partitionBy(col("event_type")).orderBy(col("day"))
    daily.select(col("event_type"), col("day"), col("n"),
      (col("n") - lag(col("n"), SerialDiffLag).over(w)).as("diff7"))
  }

  /** ES SIBLING pipeline aggregations (`max_bucket` / `min_bucket` /
    * `avg_bucket` / `sum_bucket` / `percentiles_bucket` p50) over the
    * daily histogram: one row per event type reporting which bucket
    * holds the extreme and its value (ties → smallest day, the
    * deterministic form of ES's keys-array), the bucket mean (one
    * IEEE division of exact integers), total, and the exact lower
    * median of the daily counts (the q32 integer-index device — ES
    * approximates over TDigest). All work rides the tiny (type, day)
    * aggregate; the argmax is a struct-min, no rank window.
    */
  def evtSiblingAggs(spark: SparkSession, dir: String): DataFrame = {
    val daily = Tables.events(spark, dir)
      .groupBy(col("event_type"), to_date(col("ts")).as("day"))
      .agg(count(lit(1)).as("n"))
    daily.groupBy(col("event_type"))
      .agg(
        min(struct((-col("n")).as("nn"), col("day").as("d"))).as("mx"),
        min(struct(col("n").as("nn"), col("day").as("d"))).as("mn"),
        sum(col("n")).as("sum_n"),
        count(lit(1)).as("n_buckets"),
        sort_array(collect_list(col("n"))).as("ns"))
      .select(col("event_type"),
        col("mx.d").as("max_bucket_day"), (-col("mx.nn")).as("max_n"),
        col("mn.d").as("min_bucket_day"), col("mn.nn").as("min_n"),
        (col("sum_n").cast("double") / col("n_buckets").cast("double"))
          .as("avg_n"),
        col("sum_n"), col("n_buckets"),
        expr("element_at(ns, CAST((n_buckets - 1) DIV 2 + 1 AS INT))")
          .as("p50_n"))
  }

  def evtPipelineAggs(spark: SparkSession, dir: String): DataFrame = {
    val daily = Tables.events(spark, dir)
      .groupBy(col("event_type"), to_date(col("ts")).as("day"))
      .agg(count(lit(1)).as("n"))
    val w = Window.partitionBy(col("event_type")).orderBy(col("day"))
    val w7 = w.rowsBetween(-6, 0)
    val wCum = w.rowsBetween(Window.unboundedPreceding, 0)
    daily.select(col("event_type"), col("day"), col("n"),
      (col("n") - lag(col("n"), 1).over(w)).as("delta"),
      (sum(col("n")).over(w7).cast("double") /
        count(col("n")).over(w7).cast("double")).as("ma7"),
      sum(col("n")).over(wCum).as("cum_n"))
  }

  /** Z-score anomaly flags over daily per-type event volumes — the
    * monitoring pass a production ingest runs over its own counters.
    * A (type, day) cell flags when its count deviates from the type's
    * mean daily count by more than [[AnomalyZ]] population standard
    * deviations.
    *
    * The flag is decided in EXACT INTEGER space: with s = Σx, ss = Σx²
    * over d days, `z² > Z²` rewrites to
    * `(d·x − s)² > Z² · (d·ss − s²)` — counts are integers, so both
    * sides are exact and the comparison can never wobble across
    * engines (a float σ threshold would). The reported mean is the one
    * IEEE division of exact integers; z itself is intentionally NOT
    * emitted (it needs a sqrt — the flag carries the decision).
    *
    * Shape at 100 TB: one partial-aggregated (type, day) count — the
    * daily-counter table every observability stack already materializes
    * — then per-type moments ride a window over that tiny aggregate
    * (|types|·|days| rows), not a second corpus shuffle.
    */
  val AnomalyZ = 2L

  def evtAnomaly(spark: SparkSession, dir: String): DataFrame = {
    val daily = Tables.events(spark, dir)
      .groupBy(col("event_type"), to_date(col("ts")).as("day"))
      .agg(count(lit(1)).as("n"))
    val byType = Window.partitionBy(col("event_type"))
    // the z² products run in DECIMAL(38,0), not LONG: at true 100 TB
    // daily volumes (n ~ 1e12/day) n², s² and the squared deviations
    // exceed 2^63 — a silent long wraparound would flip flags while
    // the DuckDB mirror (HUGEINT, 127-bit) stayed exact. DECIMAL
    // keeps both engines exact to 1e38, far above any physical
    // counter. The reported mean stays the one IEEE division.
    def dec(c: org.apache.spark.sql.Column) = c.cast("decimal(19,0)")
    daily
      .withColumn("d", count(lit(1)).over(byType))
      .withColumn("s", sum(col("n")).over(byType))
      .withColumn("ss", sum(dec(col("n")) * dec(col("n"))).over(byType))
      .select(col("event_type"), col("day"), col("n"),
        (col("s").cast("double") / col("d").cast("double")).as("mean_daily"),
        ((dec(col("d")) * dec(col("n")) - dec(col("s"))) *
          (dec(col("d")) * dec(col("n")) - dec(col("s"))) >
          lit(AnomalyZ * AnomalyZ).cast("decimal(19,0)") *
            (dec(col("d")) * col("ss") - dec(col("s")) * dec(col("s"))))
          .as("is_anomaly"))
  }

  /** Gap-filled calendar histogram — the ES `date_histogram`
    * aggregation with `min_doc_count: 0` and corpus-span
    * `extended_bounds`: every (event_type, day) cell of the full
    * date range exists, zero-filled, so downstream time-series
    * consumers (charting, anomaly scans, seasonal decomposition)
    * never special-case missing buckets. Day totals of `value` go
    * through the DECIMAL money rule (order-free, bit-equal).
    *
    * Shape at 100 TB: one partial-aggregated (type, day) shuffle —
    * identical to [[evtAnomaly]]'s counter pass — then the dense
    * calendar frame is a |days|×|types| broadcast cross join (both
    * sides derived one-row/tiny aggregates) left-joined onto the
    * counters; the corpus is scanned once.
    */
  def evtDateHistogram(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir)
    val daily = ev.groupBy(col("event_type"), to_date(col("ts")).as("day"))
      .agg(count(lit(1)).as("n"), dsum(col("value")).as("value_sum"))
    val days = ev.agg(min(to_date(col("ts"))).as("d0"), max(to_date(col("ts"))).as("d1"))
      .select(explode(expr("sequence(d0, d1, interval 1 day)")).as("day"))
    val types = ev.select(col("event_type")).distinct()
    days.crossJoin(broadcast(types))
      .join(daily, Seq("event_type", "day"), "left")
      .select(col("event_type"), col("day"),
        coalesce(col("n"), lit(0L)).as("n"),
        coalesce(col("value_sum"), lit(0.0d)).as("value_sum"))
  }

  /** bucket_selector floor and bucket_sort size (ES pipeline trio). */
  val BsMinDocs = 10L
  val BsTopN = 10

  /** The remaining ES bucket-pipeline trio in one flow —
    * `bucket_script` (a derived per-bucket metric: purchase share, on
    * the 2^40 integer grid — exact integer division, no float in the
    * sort key), `bucket_selector` (drop buckets under [[BsMinDocs]]
    * docs — HAVING over the bucket table), `bucket_sort` (top
    * [[BsTopN]] buckets by the derived metric, total-ordered
    * TakeOrdered). All three run over the tiny daily bucket aggregate;
    * the corpus pays exactly one partial-aggregated day shuffle.
    */
  def evtBucketPipeline(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir)
      .groupBy(to_date(col("ts")).as("day"))
      .agg(count(lit(1)).as("doc_count"),
        sum(when(col("event_type") === "purchase", 1L).otherwise(0L))
          .as("n_purchase"))
      .where(col("doc_count") >= BsMinDocs)
      .withColumn("purchase_share_grid",
        expr("(n_purchase * 1099511627776L) div doc_count"))
      .orderBy(col("purchase_share_grid").desc, col("day").asc)
      .limit(BsTopN)
      .select(col("day"), col("doc_count"), col("n_purchase"),
        col("purchase_share_grid"),
        (col("purchase_share_grid").cast("double") / lit(1099511627776.0))
          .as("purchase_share"))

  /** Moving-median trailing window, days (ES `moving_percentiles`
    * `window` over a date_histogram).
    */
  val MmWindow = 7

  /** ES `moving_percentiles` (p50) over the daily date-histogram: for
    * each PRESENT day bucket, the exact median of the trailing
    * [[MmWindow]] days' value sums. Window formation is the
    * rolling-distinct device — each daily row EXPLODES to the ≤ 7
    * target days it contributes to (equi-keyed group, never a range
    * join), inner-joined back to the observed-day set so only real
    * histogram buckets emit (ES pipeline aggs run over existing
    * buckets). The median is the LOWER order statistic off the sorted
    * in-window list — an existing decimal-summed double is COPIED,
    * never interpolated, so the result is grid-exact on both engines.
    * Window lists are ≤ 7 values regardless of corpus size.
    */
  def evtMovingMedian(spark: SparkSession, dir: String): DataFrame = {
    val daily = Tables.events(spark, dir)
      .groupBy(to_date(col("ts")).as("day"))
      .agg(dsum(col("value")).as("value_sum"))
    val contrib = daily.select(
      explode(expr(s"sequence(day, date_add(day, ${MmWindow - 1}), interval 1 day)"))
        .as("tday"),
      col("value_sum"))
    contrib.join(daily.select(col("day").as("tday")), Seq("tday"))
      .groupBy(col("tday"))
      .agg(count(lit(1)).as("n_window"),
        sort_array(collect_list(col("value_sum"))).as("vs"))
      .select(col("tday").as("day"), col("n_window"),
        expr("element_at(vs, CAST((n_window - 1) DIV 2 AS INT) + 1)").as("p50"))
  }

  /** Sampler keep-1-in-N modulus (ES `random_sampler` probability =
    * 1/[[RsMod]]).
    */
  val RsMod = 8L

  /** ES `random_sampler` aggregation: run the agg over a deterministic
    * 1-in-[[RsMod]] row sample and SCALE the estimates back up — the
    * ES agg that trades exactness for a bounded fraction of the scan's
    * work downstream (the map-side filter drops 7/8 of the rows before
    * the shuffle). "Random" here is the repo's pseudo-random device:
    * 60-bit md5 of the row id, keep `h mod N = 0` — deterministic on
    * both engines, uniform across ids. Emits per type the sampled
    * counts/sums AND the ×N estimates next to them.
    */
  def evtRandomSampler(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir)
      .withColumn("h", graft.operators.TextOps.rotLong("md5(CAST(event_id AS STRING))", 0))
      .where(col("h") % RsMod === 0L)
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_sampled"), dsum(col("value")).as("value_sum_sampled"))
      .select(col("event_type"), col("n_sampled"),
        (col("n_sampled") * lit(RsMod)).as("est_count"),
        col("value_sum_sampled"),
        (col("value_sum_sampled") * lit(RsMod.toDouble)).as("est_value_sum"))

  /** ES `range`-agg buckets: (key, from inclusive, to exclusive);
    * None = unbounded, the ES "*" edge. Literal on both engines.
    */
  val RangeBuckets: Seq[(String, Option[Double], Option[Double])] = Seq(
    ("*-50.0", None, Some(50.0)),
    ("50.0-150.0", Some(50.0), Some(150.0)),
    ("150.0-*", Some(150.0), None))

  /** ES `range` aggregation over `events.value`: every CONFIGURED
    * bucket is emitted (ES always returns the full bucket list, count
    * 0 included), assignment is the broadcast theta-join of the corpus
    * against the 3-row bucket table — buckets may overlap in general
    * ES requests, so membership is per-bucket predicate, not a CASE
    * ladder. One partial-aggregated shuffle on the bucket key;
    * DECIMAL value sums.
    */
  def evtRangeAgg(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val buckets = RangeBuckets.toDF("range_key", "lo", "hi")
    val per = Tables.events(spark, dir).join(broadcast(buckets),
        (col("lo").isNull || col("value") >= col("lo")) &&
          (col("hi").isNull || col("value") < col("hi")))
      .groupBy(col("range_key"))
      .agg(count(lit(1)).as("doc_count"), dsum(col("value")).as("value_sum"))
    buckets.join(per, Seq("range_key"), "left")
      .select(col("range_key"), col("lo"), col("hi"),
        coalesce(col("doc_count"), lit(0L)).as("doc_count"),
        coalesce(col("value_sum"), lit(0.0d)).as("value_sum"))
  }

  /** ES `filters` aggregation (+ `other_bucket`): named predicate
    * buckets over one corpus pass — conditional partial aggregates
    * (each predicate's count/sum folds map-side, a doc may satisfy
    * several filters), the `other` bucket counts docs matching NONE.
    * The single agg row unpivots via `stack` — zero joins, zero extra
    * scans.
    */
  def evtFiltersAgg(spark: SparkSession, dir: String): DataFrame = {
    val isView = col("event_type") === "view"
    val isBig = col("event_type") === "purchase" && col("value") > 100.0
    def cnt(p: org.apache.spark.sql.Column) =
      sum(when(p, 1L).otherwise(0L))
    def vs(p: org.apache.spark.sql.Column) =
      coalesce(sum(when(p, col("value").cast("decimal(18,2)"))).cast("double"),
        lit(0.0d))
    Tables.events(spark, dir).agg(
        cnt(isView).as("c_views"), vs(isView).as("s_views"),
        cnt(isBig).as("c_big"), vs(isBig).as("s_big"),
        cnt(!isView && !isBig).as("c_other"), vs(!isView && !isBig).as("s_other"))
      .select(expr(
        """stack(3,
          |  'views', c_views, s_views,
          |  'big_purchases', c_big, s_big,
          |  'other', c_other, s_other) AS (filter_key, doc_count, value_sum)"""
          .stripMargin))
  }

  /** ES `weighted_avg` aggregation: per return flag, the average
    * extended price weighted by quantity. Numerator = DECIMAL product
    * sum (both factors cast to DECIMAL(18,2) first — the q1
    * sum_disc_price device, exact), denominator = DECIMAL weight sum;
    * ONE double division at the edge. Single q1-shaped partial-agg
    * shuffle.
    */
  def q66WeightedAvg(spark: SparkSession, dir: String): DataFrame =
    Tables.lineitem(spark, dir)
      .groupBy(col("l_returnflag"))
      .agg(
        sum(col("l_quantity").cast("decimal(18,2)")).cast("double").as("weight_sum"),
        sum(col("l_extendedprice").cast("decimal(18,2)") *
          col("l_quantity").cast("decimal(18,2)")).cast("double").as("wprice_sum"))
      .select(col("l_returnflag"), col("weight_sum"), col("wprice_sum"),
        (col("wprice_sum") / col("weight_sum")).as("weighted_avg_price"))

  /** Numeric-histogram interval (ES `histogram` agg `interval`). */
  val VhInterval = 25.0

  /** ES numeric `histogram` aggregation with `min_doc_count: 0`: fixed
    * [[VhInterval]]-wide buckets over `events.value`, every bucket of
    * the observed span emitted (zero-filled — the gap a chart renders
    * as an honest empty bar, not a skipped one). Same shape as
    * [[evtDateHistogram]]: one partial-aggregated bucket shuffle +
    * a broadcast dense frame off the min/max bucket ids; DECIMAL sums
    * for the per-bucket value metric. `floor(value / interval)` is one
    * IEEE division + floor — identical on both engines; the bucket
    * LOWER BOUND is reconstructed as integer·interval (exact: the id
    * is small, the interval integral).
    */
  def evtValueHistogram(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir)
      .withColumn("bucket_id", floor(col("value") / lit(VhInterval)).cast("long"))
    val per = ev.groupBy(col("bucket_id"))
      .agg(count(lit(1)).as("doc_count"), dsum(col("value")).as("value_sum"))
    val frame = ev.agg(min(col("bucket_id")).as("b0"), max(col("bucket_id")).as("b1"))
      .select(explode(expr("sequence(b0, b1)")).as("bucket_id"))
    frame.join(per, Seq("bucket_id"), "left")
      .select(col("bucket_id"),
        (col("bucket_id") * lit(25L)).cast("double").as("bucket_lo"),
        coalesce(col("doc_count"), lit(0L)).as("doc_count"),
        coalesce(col("value_sum"), lit(0.0d)).as("value_sum"))
  }

  /** Target bucket count for the variable-width histogram (ES's
    * `buckets` parameter).
    */
  val VwBuckets = 6

  /** Fine-grid resolution the clustering runs on: the value axis
    * quantizes to this many equal-width integer cells before
    * clustering, so executor state is bounded by the grid — never by
    * |distinct values| — at any corpus size.
    */
  val VwCells = 48

  /** Centroid mass grid (2^20): per-row values floor onto it so sums
    * are exact integers (order-free across engines); ONE IEEE division
    * at the output edge.
    */
  val VwScale = 1048576L

  /** ES `variable_width_histogram`: `buckets` variable-width buckets
    * following the natural clusters of the value axis. ES's own
    * algorithm is a one-pass nearest-centroid stream whose result
    * depends on document order (its docs say so) — an engine that
    * promises deterministic replay must pin a convention, so this is
    * deterministic 1-D SINGLE-LINKAGE clustering on an integer grid:
    * quantize to [[VwCells]] equal-width cells (one partial-agg scan,
    * grid-bounded state), then cut the value axis at the
    * `buckets - 1` LARGEST gaps between occupied cells (ties → lower
    * cell) — exactly the partition that iteratively merging the
    * closest adjacent clusters until `buckets` remain would reach,
    * computed in ONE window pass instead of a merge loop. Per-bucket
    * min/max/count plus the centroid on the [[VwScale]] integer grid.
    *
    * The clustering windows run on the ≤ [[VwCells]]-row cell frame
    * (the vocab-sized-unpartitioned-window convention); the only
    * corpus-scale work is the quantizing scan.
    */
  def evtVariableWidthHistogram(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables.events(spark, dir).where(col("value").isNotNull)
    // eager min/max fetch — the date-math/maxBound discipline: literal
    // bounds constant-fold into the per-row cell arithmetic
    val mm = e.agg(min(col("value")), max(col("value"))).head()
    val (vmin, vmax) =
      if (mm.isNullAt(0)) (0.0, 0.0) else (mm.getDouble(0), mm.getDouble(1))
    val cell =
      if (vmax == vmin) lit(0L)
      else least(lit(VwCells - 1L),
        floor((col("value") - lit(vmin)) / (lit(vmax) - lit(vmin)) * lit(VwCells))
          .cast("long"))
    val cells = e
      .select(cell.as("cell"), col("value"),
        floor(col("value") * lit(VwScale)).cast("long").as("g"))
      .groupBy(col("cell"))
      .agg(count(lit(1)).as("cnt"), sum(col("g")).as("gsum"),
        min(col("value")).as("cell_min"), max(col("value")).as("cell_max"))
    val byCell = Window.orderBy(col("cell"))
    val gaps = cells.withColumn("gap", col("cell") - lag(col("cell"), 1).over(byCell))
    val ranked = gaps.withColumn("grk", row_number().over(
      Window.orderBy(col("gap").desc_nulls_last, col("cell").asc)))
    val clustered = ranked
      .withColumn("boundary",
        when(col("gap").isNotNull && col("grk") <= VwBuckets - 1, 1L).otherwise(0L))
      .withColumn("bucket", lit(1L) + sum(col("boundary")).over(
        byCell.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
    clustered.groupBy(col("bucket"))
      .agg(
        min(col("cell_min")).as("min_value"),
        max(col("cell_max")).as("max_value"),
        (sum(col("gsum")).cast("double") /
          (lit(VwScale).cast("double") * sum(col("cnt")).cast("double")))
          .as("centroid"),
        sum(col("cnt")).as("doc_count"))
  }

  /** Percentile ranks — the ES `percentile_ranks` aggregation: per
    * order priority, the fraction of orders at or under each fixed
    * threshold. The inverse question of q32's percentiles ("what
    * fraction sits at this value" vs "what value sits at this
    * fraction"); each rank is one IEEE division of exact integer
    * counts, and the whole answer rides the q1-shaped single
    * partial-aggregated shuffle (conditional counts fold map-side).
    */
  val PrThresholds: Seq[Long] = Seq(50000L, 150000L, 300000L)

  def q51PercentileRanks(spark: SparkSession, dir: String): DataFrame = {
    val rankCols = PrThresholds.map { t =>
      (sum(when(col("o_totalprice") <= t, 1L).otherwise(0L)).cast("double") /
        count(lit(1)).cast("double")).as(s"pr_${t / 1000}k")
    }
    Tables.orders(spark, dir)
      .groupBy(col("o_orderpriority"))
      .agg(count(lit(1)).as("n"), rankCols: _*)
  }

  /** Top session paths: the most frequent event-type sequences taken
    * within one session (30-minute gap sessionization, q30's rule) —
    * the sequence-mining complement of [[evtTransitions]] (full paths,
    * not first-order steps) and q38 (discovered paths, not a fixed
    * pattern). Paths are capped at [[PathMaxLen]] steps ('…'-suffixed
    * beyond that) so the key stays bounded on pathological sessions.
    *
    * The per-session path is assembled ORDER-FREE: sort_array over
    * collected (ts, event_id, type) structs — deterministic under any
    * partitioning, no window-ordered collect_list assumption. One
    * user-keyed exchange for session ids, one (user, session) partial
    * agg, then a |paths|-sized count + TakeOrderedAndProject top-k.
    */
  val PathMaxLen = 8
  val PathTopK = 20

  def evtPaths(spark: SparkSession, dir: String): DataFrame = {
    val byUser = Window.partitionBy(col("user_id"))
      .orderBy(col("ts").asc, col("event_id").asc)
    val runSum = byUser.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    Tables.events(spark, dir)
      .select(col("event_id"), col("user_id"), col("ts"), col("event_type"))
      .withColumn("new_session",
        when(col("ts") - lag(col("ts"), 1).over(byUser) <=
          expr("INTERVAL 30 MINUTES"), lit(0)).otherwise(lit(1)))
      .withColumn("session_id", sum(col("new_session")).over(runSum))
      .groupBy(col("user_id"), col("session_id"))
      .agg(sort_array(collect_list(struct(col("ts"), col("event_id"),
        col("event_type")))).as("evs"))
      .select(concat(
        expr(s"array_join(transform(slice(evs, 1, $PathMaxLen), e -> e.event_type), '>')"),
        when(size(col("evs")) > PathMaxLen, lit(">…")).otherwise(lit("")))
        .as("path"),
        size(col("evs")).cast("long").as("len"))
      .groupBy(col("path"))
      .agg(count(lit(1)).as("n_sessions"),
        sum(col("len")).as("n_events"))
      .orderBy(col("n_sessions").desc, col("path").asc)
      .limit(PathTopK)
  }

  // --- ES statistical aggregations (matrix_stats / string_stats / t_test)

  /** Exact centi-unit integerization of a 2-decimal money/metric double:
    * DECIMAL(18,2) cast is exact for these inputs (the house money
    * rule), ×100 clears the scale, and the BIGINT holds the integer.
    * All downstream moments then run in exact integer space.
    */
  private def centi(c: Column): Column =
    (c.cast("decimal(18,2)") * 100).cast("long")

  private def d38(c: Column): Column = c.cast("decimal(38,0)")

  /** ES `matrix_stats` aggregation: the pairwise covariance/correlation
    * matrix over a set of numeric fields (quantity, extendedprice,
    * discount) in ONE aggregation pass — count, per-field means, and for
    * every unordered field pair the population covariance and Pearson
    * correlation.
    *
    * Determinism: fields are integerized to exact centi-units
    * ([[centi]]), all sums and sums-of-products accumulate in
    * DECIMAL(38,0) (≡ DuckDB HUGEINT — both exact, order-free), and
    * every reported double is a fixed expression over those exact
    * integers: cov = (n·Σxy − Σx·Σy)/n² descaled by 10⁴, corr =
    * (n·Σxy − Σx·Σy)/√((n·Σx²−(Σx)²)·(n·Σy²−(Σy)²)) — scale-invariant,
    * so the centi-unit grid cancels out of the correlation entirely.
    *
    * Shape at 100 TB: one partial-aggregated pass producing a SINGLE
    * 10-column moment row (no per-key shuffle at all); the 6-pair
    * matrix explodes off that one row driver-side-free (a one-row
    * Generate, not a collect). n·Σx² stays under DECIMAL(38)'s 1e38
    * ceiling until n·x⁴ ≈ 1e38 — n ≈ 1e10 rows at these magnitudes;
    * beyond that shard the aggregation by a coarse key and merge
    * moments (they are mergeable summaries by construction).
    */
  def q59MatrixStats(spark: SparkSession, dir: String): DataFrame = {
    val li = Tables.lineitem(spark, dir).select(
      centi(col("l_quantity")).as("xq"),
      centi(col("l_extendedprice")).as("xp"),
      centi(col("l_discount")).as("xd"))
    val agg = li.agg(
      count(lit(1)).as("n"),
      sum(d38(col("xq"))).as("s_q"),
      sum(d38(col("xp"))).as("s_p"),
      sum(d38(col("xd"))).as("s_d"),
      sum(d38(col("xq")) * d38(col("xq"))).as("s_qq"),
      sum(d38(col("xq")) * d38(col("xp"))).as("s_qp"),
      sum(d38(col("xq")) * d38(col("xd"))).as("s_qd"),
      sum(d38(col("xp")) * d38(col("xp"))).as("s_pp"),
      sum(d38(col("xp")) * d38(col("xd"))).as("s_pd"),
      sum(d38(col("xd")) * d38(col("xd"))).as("s_dd"))
    val pairLit = MatrixPairs.map { case (a, b, k) =>
      s"named_struct('field_x','$a','field_y','$b','k','$k')"
    }.mkString("array(", ",", ")")
    val withPair = agg.select(col("*"), explode(expr(pairLit)).as("pr"))
    def sOf(side: String): Column =
      when(col(s"pr.$side") === "quantity", col("s_q"))
        .when(col(s"pr.$side") === "extendedprice", col("s_p"))
        .otherwise(col("s_d"))
    def ssOf(side: String): Column =
      when(col(s"pr.$side") === "quantity", col("s_qq"))
        .when(col(s"pr.$side") === "extendedprice", col("s_pp"))
        .otherwise(col("s_dd"))
    val sxy = MatrixPairs.map(_._3).foldRight(lit(null).cast("decimal(38,0)")) {
      case (k, acc) => when(col("pr.k") === k, col(k)).otherwise(acc)
    }
    val nD = col("n").cast("double")
    val covNum = d38(col("n")) * sxy - sOf("field_x") * sOf("field_y")
    val varNumX = d38(col("n")) * ssOf("field_x") - sOf("field_x") * sOf("field_x")
    val varNumY = d38(col("n")) * ssOf("field_y") - sOf("field_y") * sOf("field_y")
    withPair.select(
      col("pr.field_x").as("field_x"),
      col("pr.field_y").as("field_y"),
      col("n"),
      (sOf("field_x").cast("double") / nD / 100.0).as("mean_x"),
      (sOf("field_y").cast("double") / nD / 100.0).as("mean_y"),
      (covNum.cast("double") / (nD * nD) / 10000.0).as("cov_pop"),
      (covNum.cast("double") /
        sqrt(varNumX.cast("double") * varNumY.cast("double"))).as("corr"))
  }

  /** The 6 unordered field pairs of [[q59MatrixStats]] with their
    * moment-column key, in output order.
    */
  val MatrixPairs: Seq[(String, String, String)] = Seq(
    ("quantity", "quantity", "s_qq"),
    ("quantity", "extendedprice", "s_qp"),
    ("quantity", "discount", "s_qd"),
    ("extendedprice", "extendedprice", "s_pp"),
    ("extendedprice", "discount", "s_pd"),
    ("discount", "discount", "s_dd"))

  /** ES `string_stats` aggregation (with `show_distribution`-style
    * character statistics) per language: doc count, min/max/avg text
    * length, total and distinct character counts, and the Shannon
    * entropy of the character distribution QUANTIZED to the
    * integer-log2 grid (the [[graft.operators.TextOps.surprisal]]
    * device): entropy_bits = (N·⌊log2 N⌋ − Σ cᵢ·⌊log2 cᵢ⌋)/N where
    * ⌊log2 n⌋ = length(bin(n))−1 — pure integer arithmetic up to the
    * one final IEEE division, bit-equal in any engine; a float `ln`
    * entropy would be cross-engine hash-dirty.
    *
    * Shape at 100 TB: the char explode is corpus×L rows but carries a
    * 1-char payload and partial-aggregates map-side into the (lang, ch)
    * count table (≤ |langs|·|alphabet| rows); length stats ride a
    * separate partial agg over the un-exploded scan. Two scans of the
    * corpus, both aggregate-only, no wide shuffle.
    */
  def q60StringStats(spark: SparkSession, dir: String): DataFrame = {
    def flog2(c: Column): Column = (length(bin(c)) - 1).cast("long")
    val docs = Tables.documents(spark, dir).where(length(col("text")) >= 1)
    val lenAgg = docs.groupBy(col("lang")).agg(
      count(lit(1)).as("n_docs"),
      min(length(col("text"))).cast("long").as("min_len"),
      max(length(col("text"))).cast("long").as("max_len"),
      sum(length(col("text")).cast("long")).as("sum_len"))
    val ent = docs
      .select(col("lang"), explode(split(col("text"), "")).as("ch"))
      .groupBy(col("lang"), col("ch")).agg(count(lit(1)).as("c"))
      .groupBy(col("lang")).agg(
        sum(col("c")).as("n_chars"),
        count(lit(1)).as("n_distinct_chars"),
        sum(col("c") * flog2(col("c"))).as("sum_clog"))
    lenAgg.join(ent, Seq("lang"))
      .select(col("lang"), col("n_docs"), col("min_len"), col("max_len"),
        (col("sum_len").cast("double") / col("n_docs").cast("double"))
          .as("avg_len"),
        col("n_chars"), col("n_distinct_chars"),
        ((col("n_chars") * flog2(col("n_chars")) - col("sum_clog"))
          .cast("double") / col("n_chars").cast("double")).as("entropy_bits"))
  }

  /** ES `t_test` aggregation: Welch's unpaired two-sample t-statistic
    * (plus the Welch–Satterthwaite degrees of freedom) comparing
    * `l_extendedprice` between returnflag 'R' and 'A', per linestatus —
    * the A/B-significance primitive ES ships as a metric agg.
    *
    * Determinism: both groups' moments accumulate in one conditional
    * aggregation pass as exact integers (centi-units, DECIMAL(38,0)
    * sums — the [[q59MatrixStats]] device); sample variance is the
    * exact numerator (n·Σx² − (Σx)²) over one double denominator
    * n·(n−1); t and df are fixed double expressions over those — the
    * centi-unit scale cancels out of t entirely (both numerator and
    * denominator are linear in the unit).
    *
    * Shape at 100 TB: ONE partial-aggregated pass over the fact table
    * (conditional sums, no per-group second scan), output |linestatus|
    * rows.
    */
  def q61TTest(spark: SparkSession, dir: String): DataFrame = {
    val li = Tables.lineitem(spark, dir)
      .where(col("l_returnflag").isin("R", "A"))
      .select(col("l_linestatus"), col("l_returnflag"),
        centi(col("l_extendedprice")).as("x"))
    def side(f: String, suffix: String): Seq[(String, Column)] = Seq(
      s"n_$suffix" -> sum(when(col("l_returnflag") === f, 1L).otherwise(0L)),
      s"s_$suffix" -> sum(when(col("l_returnflag") === f, d38(col("x")))),
      s"ss_$suffix" -> sum(when(col("l_returnflag") === f,
        d38(col("x")) * d38(col("x")))))
    val aggs = side("R", "r") ++ side("A", "a")
    val g = li.groupBy(col("l_linestatus"))
      .agg(aggs.head._2.as(aggs.head._1),
        aggs.tail.map { case (n, c) => c.as(n) }: _*)
    def nD(s: String) = col(s"n_$s").cast("double")
    def mean(s: String) = col(s"s_$s").cast("double") / nD(s)
    def v(s: String) =
      (d38(col(s"n_$s")) * col(s"ss_$s") - col(s"s_$s") * col(s"s_$s"))
        .cast("double") / (nD(s) * (nD(s) - 1.0))
    val se2 = v("r") / nD("r") + v("a") / nD("a")
    val welchDf = (se2 * se2) /
      ((v("r") / nD("r")) * (v("r") / nD("r")) / (nD("r") - 1.0) +
        (v("a") / nD("a")) * (v("a") / nD("a")) / (nD("a") - 1.0))
    g.select(col("l_linestatus"),
      col("n_r"), col("n_a"),
      (mean("r") / 100.0).as("mean_r"),
      (mean("a") / 100.0).as("mean_a"),
      ((mean("r") - mean("a")) / sqrt(se2)).as("t_stat"),
      welchDf.as("welch_df"))
  }

  /** ES `change_point` aggregation (the step-change member, simplified
    * to the mean-shift scan): for each event type's daily-count series,
    * find the split day maximizing the normalized mean shift between
    * prefix and suffix — |mean_after − mean_before| with the argmax
    * taken over every candidate boundary. The statistic compared across
    * splits is (D−d)·s − d·(S−s) over d·(D−d): exact DECIMAL numerator
    * (counts are integers; DECIMAL(38,0), not LONG — at true 100 TB
    * daily volumes D·s exceeds 2^63), one IEEE division, so the ranking
    * doubles are bit-identical across engines; ties break on earliest
    * day (row_number over stat DESC, day ASC — a total order).
    *
    * Shape at 100 TB: identical to [[evtAnomaly]] — one
    * partial-aggregated (type, day) counter shuffle, then all prefix
    * sums, the split scan, and the argmax ride windows over that tiny
    * |types|·|days| aggregate.
    */
  def evtChangePoint(spark: SparkSession, dir: String): DataFrame = {
    val daily = Tables.events(spark, dir)
      .groupBy(col("event_type"), to_date(col("ts")).as("day"))
      .agg(count(lit(1)).as("n"))
    val byType = Window.partitionBy(col("event_type"))
    val ordered = byType.orderBy(col("day"))
    val run = ordered.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val withCum = daily
      .withColumn("d", row_number().over(ordered).cast("long"))
      .withColumn("s", sum(col("n")).over(run))
      .withColumn("dd", count(lit(1)).over(byType))
      .withColumn("ss", sum(col("n")).over(byType))
      .where(col("d") < col("dd")) // suffix must be nonempty
    val statNum = d38(col("dd") - col("d")) * d38(col("s")) -
      d38(col("d")) * d38(col("ss") - col("s"))
    val stat = abs(statNum).cast("double") /
      (col("d").cast("double") * (col("dd") - col("d")).cast("double"))
    val ranked = withCum
      .withColumn("stat", stat)
      .withColumn("rk", row_number().over(
        byType.orderBy(col("stat").desc, col("day").asc)))
      .where(col("rk") === 1)
    ranked.select(col("event_type"), col("day").as("change_day"),
      (col("s").cast("double") / col("d").cast("double")).as("mean_before"),
      ((col("ss") - col("s")).cast("double") /
        (col("dd") - col("d")).cast("double")).as("mean_after"),
      ((col("ss") - col("s")).cast("double") /
        (col("dd") - col("d")).cast("double") -
        col("s").cast("double") / col("d").cast("double")).as("shift"),
      col("stat"))
  }

  /** ES `adjacency_matrix` aggregation: named filters evaluated once
    * per document, with a bucket per filter AND per filter pair holding
    * the intersection doc count (`a`, `b`, `a&b` keys, ES's own
    * labeling). Filters here: `ui` (click/view types), `high_value`
    * (value > [[AdjHighValue]]), `morning` (hour < 12) — mutually
    * overlapping so every intersection is meaningful.
    *
    * Shape at 100 TB: ONE aggregate-only scan (each filter is a
    * conditional sum; pairs are sums of conjunctions — no join, no
    * per-filter second pass, unlike the naive N-filters = N scans
    * reading); the key unpivot explodes off the single moment row.
    * Adding a filter costs one column, the matrix grows client-side
    * only.
    */
  val AdjHighValue = 250.0

  def q63AdjacencyMatrix(spark: SparkSession, dir: String): DataFrame = {
    val fUi = col("event_type").isin("click", "view")
    val fHv = col("value") > AdjHighValue
    val fMo = hour(col("ts")) < 12
    def cnt(c: Column): Column = sum(when(c, 1L).otherwise(0L))
    val agg = Tables.events(spark, dir).agg(
      cnt(fUi).as("c_ui"),
      cnt(fHv).as("c_hv"),
      cnt(fMo).as("c_mo"),
      cnt(fUi && fHv).as("c_ui_hv"),
      cnt(fUi && fMo).as("c_ui_mo"),
      cnt(fHv && fMo).as("c_hv_mo"))
    val keys = Seq("ui" -> "c_ui", "high_value" -> "c_hv", "morning" -> "c_mo",
      "high_value&ui" -> "c_ui_hv", "morning&ui" -> "c_ui_mo",
      "high_value&morning" -> "c_hv_mo")
    val keyLit = keys.map { case (k, c) =>
      s"named_struct('key','$k','c','$c')"
    }.mkString("array(", ",", ")")
    val sel = keys.map(_._2).foldRight(lit(null).cast("long")) {
      case (c, acc) => when(col("kv.c") === c, col(c)).otherwise(acc)
    }
    agg.select(col("*"), explode(expr(keyLit)).as("kv"))
      .select(col("kv.key").as("key"), sel.as("doc_count"))
      .where(col("doc_count") > 0) // ES min_doc_count semantics
  }

  /** ES TSDB downsampling: roll raw events into fixed
    * [[DownsampleSeconds]]-second buckets per event type, keeping the
    * count / min / max / sum / avg summary ES materializes when it
    * downsamples a time-series index. Bucket identity is the epoch
    * floor (`unix_timestamp div w · w` ≡ DuckDB `floor(epoch) // w·w` —
    * integer arithmetic, no tz or float wobble); the value sum takes
    * the DECIMAL money route, avg is the one IEEE division.
    *
    * Shape at 100 TB: one partial-aggregated (type, bucket) shuffle —
    * the downsampled table IS the aggregate, ~raw/5000 rows at 6-hour
    * buckets; a second downsample pass (1d, 1w) would stack on the
    * output, never re-reading raw.
    */
  val DownsampleSeconds = 21600L

  def evtDownsample(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir)
      .withColumn("bucket_epoch",
        expr(s"CAST(unix_timestamp(ts) AS BIGINT) div $DownsampleSeconds * $DownsampleSeconds"))
      .groupBy(col("event_type"), col("bucket_epoch"))
      .agg(count(lit(1)).as("n"),
        min(col("value")).as("v_min"),
        max(col("value")).as("v_max"),
        sum(col("value").cast("decimal(18,2)")).cast("double").as("v_sum"),
        (sum(col("value").cast("decimal(18,2)")).cast("double") /
          count(lit(1)).cast("double")).as("v_avg"))

  /** Fixed-duration rounding ladder for [[q64AutoDateHistogram]], in
    * seconds — the ES `auto_date_histogram` interval menu restricted to
    * its fixed-width rungs (1s…1m…1h…1d, 7d, then 30/90/365-day
    * stand-ins for the calendar month/quarter/year rungs;
    * calendar-aware months would
    * make bucket identity timezone-policy–dependent, which the
    * cross-engine hash contract forbids).
    */
  val AutoHistLadder: Seq[Long] = Seq(1L, 5L, 10L, 30L, 60L, 300L, 600L,
    1800L, 3600L, 10800L, 43200L, 86400L, 604800L, 2592000L, 7776000L,
    31536000L)

  /** Bucket-count target for [[q64AutoDateHistogram]] — ES's
    * `buckets` parameter (default 10 there; 40 here so the month-long
    * test corpora resolve to daily buckets, not weekly).
    */
  val AutoHistTarget = 40L

  /** ES `auto_date_histogram`: the engine, not the caller, picks the
    * histogram interval — the smallest rung of [[AutoHistLadder]] whose
    * bucket count over the corpus's [min ts, max ts] span stays within
    * [[AutoHistTarget]] (largest rung if none does). Bucket identity is
    * the integer epoch floor (`e div i · i` — the [[evtDownsample]]
    * device), bucket counts are pure BIGINT arithmetic on the 1-row
    * span aggregate, so both engines pick the identical rung and the
    * result hashes bit-equal. Value totals take the DECIMAL money rule.
    *
    * Shape at 100 TB: the interval election costs one 1-row min/max
    * aggregate (a second corpus scan, but a 2-column count-free one —
    * at cluster scale you'd serve it from table statistics); the
    * histogram itself is the single partial-aggregated (bucket) shuffle
    * every fixed histogram here pays. The 16-row ladder explode lives
    * on the 1-row span frame and broadcasts back as a scalar.
    */
  def q64AutoDateHistogram(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir)
      .withColumn("e", expr("CAST(unix_timestamp(ts) AS BIGINT)"))
    val ladder = AutoHistLadder.mkString("array(", ", ", ")")
    val pick = ev.agg(min(col("e")).as("e0"), max(col("e")).as("e1"))
      .select(col("e0"), col("e1"),
        explode(expr(ladder)).as("ival"))
      .where(expr("e1 div ival - e0 div ival + 1") <= AutoHistTarget)
      .agg(min(col("ival")).as("ival"))
      .select(coalesce(col("ival"), lit(AutoHistLadder.max))
        .as("interval_sec"))
    ev.crossJoin(broadcast(pick))
      .groupBy(col("interval_sec"),
        expr("e div interval_sec * interval_sec").as("bucket_start"))
      .agg(count(lit(1)).as("n"), dsum(col("value")).as("value_sum"))
  }

  /** Synthetic shard fan for [[q65DiversifiedSampler]] (the
    * [[graft.operators.Retrieval.TermsShards]] routing stand-in),
    * per-shard sample budget, and the diversity cap — ES
    * `diversified_sampler`'s `shard_size` and `max_docs_per_value`.
    */
  val SamplerShards = 8
  val SamplerShardSize = 20
  val SamplerMaxPerKey = 2

  /** ES `sampler`/`diversified_sampler` aggregation: each shard keeps
    * its `shard_size` best-scoring docs, but never more than
    * `max_docs_per_value` per diversity-field value (here `user_id` —
    * the "don't let one prolific author fill the sample" control);
    * downstream aggregations (a `terms` over `event_type`, plus the
    * distinct-user width) then run over the merged sample only. Score
    * order is the deterministic md5-of-id stand-in for ES's relevance
    * order (the [[q49WeightedSample]] device), so both engines draw the
    * identical sample.
    *
    * Shape at 100 TB: two keyed exchanges, deliberately ordered — the
    * (shard, user) diversity window runs first over the full stream
    * (WindowGroupLimit caps its sort buffers at `max_docs_per_value`
    * rows per key), and the per-shard cutoff window only sees the
    * diversity-capped survivors (≤ `max_docs_per_value`·|users| rows),
    * so the coarser, skew-prone shard partitioning never carries the
    * raw corpus. Everything after the second cutoff is ≤ S·shard_size
    * rows.
    */
  def q65DiversifiedSampler(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir)
      .select(col("event_id"), col("user_id"), col("event_type"),
        pmod(col("event_id"), lit(SamplerShards.toLong)).as("shard"),
        graft.operators.TextOps
          .rotLong("md5(CAST(event_id AS STRING))", 0).as("h"))
    val perKey = Window.partitionBy(col("shard"), col("user_id"))
      .orderBy(col("h").asc, col("event_id").asc)
    val perShard = Window.partitionBy(col("shard"))
      .orderBy(col("h").asc, col("event_id").asc)
    ev.withColumn("rk", row_number().over(perKey))
      .where(col("rk") <= SamplerMaxPerKey)
      .withColumn("rs", row_number().over(perShard))
      .where(col("rs") <= SamplerShardSize)
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("doc_count"),
        countDistinct(col("user_id")).as("n_users"))
  }

  /** Bucket width for [[evtInterpolate]] — hourly, fine enough that
    * real gaps exist at every test SF (the interpolation branch must
    * be exercised by corpus data, not only by the spec fixture).
    */
  val InterpSeconds = 3600L

  /** Time-series gap interpolation — the `fill(linear)` /
    * `fill(previous)` of a time-series engine (InfluxDB, Timescale
    * `interpolate`/`locf`), downstream of a gap-filled histogram:
    * every (event_type, hourly bucket) cell of the corpus span exists;
    * present cells carry their own total, missing cells get BOTH a
    * last-observation-carried-forward value (leading gaps backfill
    * from the next observation) and a linear interpolation between the
    * surrounding observations (edge gaps degrade to LOCF). All
    * arithmetic stays in integer cents × integer epoch-seconds —
    * `v = (pc·(nb−b) + nc·(b−pb)) / ((nb−pb)·100)` is one IEEE
    * division of two exact BIGINTs, so the interpolated series is
    * bit-equal cross-engine (a float lerp would wobble in the last
    * ulp).
    *
    * Shape at 100 TB: one partial-aggregated (type, bucket) shuffle
    * builds the totals; the dense frame is a broadcast cross join of
    * two tiny derived aggregates; all four neighbor columns ride ONE
    * type-keyed sort (two frames over the same window partitioning —
    * no second exchange). The dense frame is span/width × |types|
    * rows — the downsampled series, not the corpus.
    */
  def evtInterpolate(spark: SparkSession, dir: String): DataFrame = {
    val w = InterpSeconds
    val ev = Tables.events(spark, dir)
      .withColumn("b", expr(s"CAST(unix_timestamp(ts) AS BIGINT) div $w * $w"))
    val hourly = ev.groupBy(col("event_type"), col("b"))
      .agg(count(lit(1)).as("n"),
        (sum(col("value").cast("decimal(18,2)")) * 100).cast("long")
          .as("cents"))
    val buckets = ev.agg(min(col("b")).as("b0"), max(col("b")).as("b1"))
      .select(explode(expr(s"sequence(b0, b1, $w)")).as("b"))
    val types = ev.select(col("event_type")).distinct()
    val frame = buckets.crossJoin(broadcast(types))
      .join(hourly, Seq("event_type", "b"), "left")
    val byType = Window.partitionBy(col("event_type")).orderBy(col("b").asc)
    val upTo = byType.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val from = byType.rowsBetween(Window.currentRow, Window.unboundedFollowing)
    val obsB = when(col("cents").isNotNull, col("b"))
    frame
      .withColumn("pc", last(col("cents"), ignoreNulls = true).over(upTo))
      .withColumn("pb", last(obsB, ignoreNulls = true).over(upTo))
      .withColumn("nc", first(col("cents"), ignoreNulls = true).over(from))
      .withColumn("nb", first(obsB, ignoreNulls = true).over(from))
      .select(col("event_type"), col("b").as("bucket_epoch"),
        coalesce(col("n"), lit(0L)).as("n"),
        (coalesce(col("pc"), col("nc")).cast("double") / 100.0d).as("v_locf"),
        when(col("cents").isNotNull, col("cents").cast("double") / 100.0d)
          .when(col("pc").isNotNull && col("nc").isNotNull,
            (col("pc") * (col("nb") - col("b")) +
              col("nc") * (col("b") - col("pb"))).cast("double") /
              ((col("nb") - col("pb")) * 100L).cast("double"))
          .otherwise(coalesce(col("pc"), col("nc")).cast("double") / 100.0d)
          .as("v_interp"))
  }

  /** Whisker fence multiplier for [[q67Boxplot]] (ES `boxplot` agg
    * default `1.5` IQRs past the quartiles).
    */
  val BoxplotIqrK = 1.5

  /** ES `boxplot` aggregation: per order priority over `o_totalprice` —
    * min / q1 / median / q3 / max plus the Tukey whiskers (innermost
    * values inside the q1−1.5·IQR .. q3+1.5·IQR fences).
    *
    * Exactness: prices quantize to integer CENTS first
    * (`floor(x·100 + 0.5)` — identical text both engines; a 2-decimal
    * price never lands on an exact .5 so the rounding mode can't
    * diverge), quartiles interpolate integers at frac ∈ {.25,.5,.75}
    * (every intermediate exact in double — the q32 precedent), and the
    * fence arithmetic is +/−/× on those exact values (IEEE
    * correctly-rounded, same op order in the mirror). One /100.0 per
    * output column at the edge.
    *
    * Shape at 100 TB: quartiles are one partial-aggregated groupBy
    * (percentile buffers bounded by per-group distinct cents — prices,
    * not rows); the whisker pass re-scans with the 5-row fence frame
    * BROADCAST back, so the second pass is conditional min/max folding
    * map-side. Two scans, zero wide shuffles.
    */
  def q67Boxplot(spark: SparkSession, dir: String): DataFrame = {
    val o = Tables.orders(spark, dir).select(col("o_orderpriority"),
      expr("CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)").as("cents"))
    val quart = o.groupBy(col("o_orderpriority")).agg(
      expr("percentile(cents, 0.25)").as("q1c"),
      expr("percentile(cents, 0.5)").as("q2c"),
      expr("percentile(cents, 0.75)").as("q3c"),
      count(lit(1)).as("n"))
    val fences = quart
      .withColumn("lo_fence", col("q1c") - lit(BoxplotIqrK) * (col("q3c") - col("q1c")))
      .withColumn("hi_fence", col("q3c") + lit(BoxplotIqrK) * (col("q3c") - col("q1c")))
    o.join(broadcast(fences), Seq("o_orderpriority"))
      .groupBy(col("o_orderpriority"))
      .agg(
        min(col("q1c")).as("q1c"), min(col("q2c")).as("q2c"),
        min(col("q3c")).as("q3c"), min(col("n")).as("n"),
        min(col("cents")).as("min_c"), max(col("cents")).as("max_c"),
        min(when(col("cents") >= col("lo_fence"), col("cents"))).as("lw_c"),
        max(when(col("cents") <= col("hi_fence"), col("cents"))).as("uw_c"))
      .select(col("o_orderpriority"), col("n"),
        (col("min_c").cast("double") / 100.0d).as("min_price"),
        (col("q1c") / 100.0d).as("q1"),
        (col("q2c") / 100.0d).as("median"),
        (col("q3c") / 100.0d).as("q3"),
        (col("max_c").cast("double") / 100.0d).as("max_price"),
        (col("lw_c").cast("double") / 100.0d).as("lower_whisker"),
        (col("uw_c").cast("double") / 100.0d).as("upper_whisker"))
  }

  /** Bucket budget for [[q68MultiTerms]] (ES `multi_terms` `size`). */
  val MultiTermsK = 10

  /** ES `multi_terms` aggregation: buckets keyed by the COMPOSITE
    * (market segment, order priority) term pair, ranked by doc count —
    * the multi-key cousin of the plain `terms` agg (and of
    * [[q54CompositeAgg]], which paginates ALL composite buckets in key
    * order; multi_terms returns the top-`size` by count).
    *
    * Shape: broadcast the customer dim onto orders (fact never
    * shuffles for the join), one partial-aggregated composite-key
    * groupBy, then a [[MultiTermsK]]-row TakeOrderedAndProject with
    * the deterministic (count DESC, keys ASC) tiebreak.
    */
  def q68MultiTerms(spark: SparkSession, dir: String): DataFrame =
    Tables.orders(spark, dir)
      .join(broadcast(Tables.customer(spark, dir)
        .select(col("c_custkey"), col("c_mktsegment"))),
        col("o_custkey") === col("c_custkey"))
      .groupBy(col("c_mktsegment"), col("o_orderpriority"))
      .agg(count(lit(1)).as("doc_count"), dsum(col("o_totalprice")).as("price_sum"))
      .orderBy(col("doc_count").desc, col("c_mktsegment").asc,
        col("o_orderpriority").asc)
      .limit(MultiTermsK)

  /** ES `top_metrics` aggregation: per event type, the metric columns
    * of the single LATEST row (`sort: ts desc`), event_id as the
    * deterministic tiebreak — the argmax-row primitive `top_hits
    * size:1` also reduces to.
    *
    * Shape: one window rank over the type-keyed exchange; at 100 TB
    * this is the standard max-row-per-key pattern (partial
    * TakeOrdered per partition would also work, but the window form
    * keeps it one declarative rank Catalyst can push into a
    * WindowGroupLimit — no full sort, just a per-key running top-1).
    */
  def q69TopMetrics(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("event_type"))
      .orderBy(col("ts").desc, col("event_id").desc)
    Tables.events(spark, dir)
      .withColumn("rn", row_number().over(w))
      .where(col("rn") === 1)
      .select(col("event_type"), col("ts").as("latest_ts"),
        col("event_id"), col("user_id"), col("value").as("top_value"))
  }

  /** Hits carried per bucket by [[q75TopHits]] (ES `top_hits` `size`). */
  val TopHitsK = 3

  /** ES `top_hits` aggregation: each `event_type` bucket reports its
    * doc_count AND its top-[[TopHitsK]] FULL source documents by
    * (value DESC, event_id ASC) — the "show me the bucket's best
    * examples" agg, and the last commonly-used ES aggregation without
    * a row ([[q69TopMetrics]] returns metric VALUES; this carries
    * whole hits). One row per (bucket, hit) — the flattened form of
    * ES's nested hits array (array outputs can't cross the driver
    * compare).
    *
    * Shape at 100 TB: the per-bucket rank is a WindowGroupLimit —
    * InferWindowGroupLimit cuts each map partition to its local
    * top-k BEFORE the exchange (PlanAuditSpec pins the Partial
    * limit), so the shuffle carries k·buckets·partitions rows, not
    * the corpus; the doc_count side is a partial-agg groupBy on the
    * same key broadcast back onto k·buckets hit rows.
    */
  def q75TopHits(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir)
    val w = Window.partitionBy(col("event_type"))
      .orderBy(col("value").desc, col("event_id").asc)
    val hits = ev
      .select(col("event_type"), col("event_id"), col("user_id"),
        col("ts"), col("value"))
      .withColumn("hit_rank", row_number().over(w).cast("long"))
      .where(col("hit_rank") <= TopHitsK)
    val cnt = ev.groupBy(col("event_type")).agg(count(lit(1)).as("doc_count"))
    hits.join(broadcast(cnt), Seq("event_type"))
      .select(col("event_type"), col("doc_count"), col("hit_rank"),
        col("event_id"), col("user_id"), col("ts"), col("value"))
  }

  /** Result budget for [[q70FrequentPairs]]. */
  val FpTopK = 25

  /** The distinct (order, brand) basket items both frequent-itemset
    * queries mine, memoized: it feeds four consumers (both self-join
    * sides, sup, nb) — without the memo the lineitem⋈part distinct
    * re-evaluates per consumer (the recompute pattern dedupContainment
    * / the minhash signatures memoize away).
    */
  private def fpBaskets(spark: SparkSession, dir: String): DataFrame =
    IndexStore.frame(spark, dir, "fp_baskets") {
      Tables.lineitem(spark, dir)
        .join(broadcast(Tables.part(spark, dir)
          .select(col("p_partkey"), col("p_brand"))),
          col("l_partkey") === col("p_partkey"))
        .select(col("l_orderkey"), col("p_brand")).distinct()
    }

  /** ES `frequent_item_sets` aggregation, pair-sized: market-basket
    * mining over orders as baskets and part BRANDS as items — the
    * top co-occurring brand pairs with support and lift. (ES caps
    * set size the same way; pairs are the workhorse.)
    *
    * Shape at 100 TB: items = distinct (order, brand) after a
    * broadcast dim join; candidate pairs come from a SELF-JOIN ON THE
    * ORDER KEY — fan-out bounded by items-per-basket², never
    * corpus-quadratic (the LSH-band candidate-generation discipline).
    * Supports and the basket total are partial-aggregated; lift is
    * exact integer products (< 2⁵³, double-exact) with ONE division
    * at the edge; top-k is a TakeOrderedAndProject with full
    * tiebreak.
    */
  def q70FrequentPairs(spark: SparkSession, dir: String): DataFrame = {
    val items = fpBaskets(spark, dir)
    val pairs = items.as("a")
      .join(items.as("b"),
        col("a.l_orderkey") === col("b.l_orderkey") &&
          col("a.p_brand") < col("b.p_brand"))
      .groupBy(col("a.p_brand").as("brand_a"), col("b.p_brand").as("brand_b"))
      .agg(count(lit(1)).as("pair_support"))
    val sup = items.groupBy(col("p_brand")).agg(count(lit(1)).as("s"))
    val nb = items.agg(countDistinct(col("l_orderkey")).as("n_baskets"))
    pairs
      .join(broadcast(sup.select(col("p_brand").as("brand_a"), col("s").as("support_a"))), Seq("brand_a"))
      .join(broadcast(sup.select(col("p_brand").as("brand_b"), col("s").as("support_b"))), Seq("brand_b"))
      .crossJoin(broadcast(nb))
      .select(col("brand_a"), col("brand_b"), col("pair_support"),
        col("support_a"), col("support_b"), col("n_baskets"),
        ((col("pair_support") * col("n_baskets")).cast("double") /
          (col("support_a") * col("support_b")).cast("double")).as("lift"))
      .orderBy(col("pair_support").desc, col("brand_a").asc, col("brand_b").asc)
      .limit(FpTopK)
  }

  /** Minimum absolute support for a reported triple — the Apriori
    * dial: items below it can't appear in any reported set, so the
    * item prune before enumeration is LOSSLESS.
    */
  val FtMinSupport = 3

  /** ES `frequent_item_sets` at set size 3 — the k ≥ 3 extension of
    * [[q70FrequentPairs]] the ES agg (and real basket mining) wants.
    * Enumeration uses the DEGREE-ORDERED ORIENTATION device
    * ([[graft.operators.GraphOps]].triangles' Ortmann-Brandes move,
    * here on item supports): within each basket, items chain in
    * (global support ASC, brand ASC) order, so every triple is built
    * exactly once (no 6× duplicate + dedup of a blind 3-way
    * self-join) and the RAREST item always leads the wedge — hub
    * items (high support, the skew killers) never fan out as wedge
    * centers, bounding per-item join work the way the triangle count
    * bounds wedge work on power-law graphs. The basket table is the
    * memoized `fp_baskets` artifact both set sizes share.
    *
    * Output is the ES shape: the itemset key (canonical sorted form),
    * absolute doc_count support, and the support ratio (one IEEE
    * division of exact integer counts).
    */
  def q76FrequentTriples(spark: SparkSession, dir: String): DataFrame = {
    val items = fpBaskets(spark, dir)
    val sup = items.groupBy(col("p_brand")).agg(count(lit(1)).as("s"))
      // lossless Apriori prune: a triple with support ≥ m needs every
      // item's support ≥ m
      .where(col("s") >= FtMinSupport)
    val oi = items.join(broadcast(sup), Seq("p_brand"))
    def side(n: String): DataFrame = oi.select(col("l_orderkey"),
      col("p_brand").as(s"b_$n"), col("s").as(s"s_$n"))
    def before(x: String, y: String): Column =
      (col(s"s_$x") < col(s"s_$y")) ||
        (col(s"s_$x") === col(s"s_$y") && col(s"b_$x") < col(s"b_$y"))
    val triples = side("a")
      .join(side("b"), Seq("l_orderkey")).where(before("a", "b"))
      .join(side("c"), Seq("l_orderkey")).where(before("b", "c"))
    val nb = items.agg(countDistinct(col("l_orderkey")).as("n_baskets"))
    triples
      .groupBy(concat_ws("|",
        sort_array(array(col("b_a"), col("b_b"), col("b_c")))).as("items"))
      .agg(count(lit(1)).as("support"))
      .where(col("support") >= FtMinSupport)
      .crossJoin(broadcast(nb))
      .select(col("items"), col("support"), col("n_baskets"),
        (col("support").cast("double") / col("n_baskets").cast("double"))
          .as("support_ratio"))
      .orderBy(col("support").desc, col("items").asc)
      .limit(FpTopK)
  }

  /** Trailing window, days, for [[evtEwma]] (ES `moving_fn` `window`). */
  val EwmaWindow = 8

  /** ES `moving_fn` with `MovingFunctions.ewma(values, 0.5)` over the
    * daily date-histogram: for each present day, the exponentially
    * weighted average of the trailing [[EwmaWindow]] days' value sums
    * (ES's ewma folds the window oldest-first: avg = v₀, then
    * avg = α·v + (1−α)·avg). At α = ½ the weights are dyadic, so the
    * fold is computed EXACTLY on integer cents scaled by 2^(n−1):
    *   scaled = c₀ + Σ_{k≥1} c_k·2^(k−1),  ewma = scaled / (2^(n−1)·100)
    * — the weight and denominator tables are integer literals indexed
    * by position (no float pow — a transcendental would be
    * cross-engine hash-dirty), and the single division at the edge is
    * IEEE-exact-deterministic.
    *
    * Window formation is [[evtMovingMedian]]'s device: each daily row
    * explodes to the ≤ [[EwmaWindow]] target days it contributes to
    * (equi-keyed, never a range join), inner-joined to observed days;
    * the in-window series sorts by day inside a struct array, so the
    * fold order is deterministic under any partitioning.
    */
  def evtEwma(spark: SparkSession, dir: String): DataFrame =
    ewmaOverDaily(Tables.events(spark, dir)
      .groupBy(to_date(col("ts")).as("day"))
      .agg((sum(col("value").cast("decimal(18,2)")) * 100).cast("long")
        .as("cents")))

  /** The dyadic EWMA fold over any (day, cents) daily frame — shared
    * verbatim by [[evtEwma]] and the streaming counter store's read
    * surface ([[graft.streaming.StreamingCounters.globalEwma]] feeds
    * it the merged counter table; exact-decimal day totals commute
    * under any batch split, so drain ≡ batch holds through this seam).
    */
  private[graft] def ewmaOverDaily(daily: DataFrame): DataFrame = {
    val w = EwmaWindow
    val weights = (Seq(1L) ++ (1 until w).map(k => 1L << (k - 1)))
      .mkString("array(", "L,", "L)")
    val denoms = (1 to w).map(n => 1L << (n - 1)).mkString("array(", "L,", "L)")
    val contrib = daily.select(
      explode(expr(s"sequence(day, date_add(day, ${w - 1}), interval 1 day)"))
        .as("tday"),
      col("day"), col("cents"))
    contrib.join(daily.select(col("day").as("tday")), Seq("tday"))
      .groupBy(col("tday"))
      .agg(count(lit(1)).as("n_window"),
        sort_array(collect_list(struct(col("day"), col("cents")))).as("vs"))
      .select(col("tday").as("day"), col("n_window"),
        (expr(s"""aggregate(sequence(1, CAST(n_window AS INT)), 0L,
                 |  (acc, j) -> acc + element_at(vs, j).cents *
                 |    element_at($weights, j))""".stripMargin).cast("double") /
          (expr(s"element_at($denoms, CAST(n_window AS INT))") * lit(100L))
            .cast("double")).as("ewma"))
  }

  /** ES `nested` + `reverse_nested` aggregations: orders are the
    * parent documents, line items their nested children. Per order
    * priority over 'F'-status parents: the parent doc count, the
    * nested child doc count under the child filter (quantity > 25),
    * the children's DECIMAL-exact price mass, and the reverse_nested
    * count (parents with ≥ 1 matching child).
    *
    * Shape at 100 TB: children pre-aggregate per parent key FIRST
    * (one partial-aggregated shuffle on the join key), so the
    * parent-child join is 1:1 and the final groupBy sums plain
    * per-parent scalars — the nested-agg plan that never fans the
    * fact table out, and no COUNT DISTINCT anywhere.
    */
  def q71NestedAgg(spark: SparkSession, dir: String): DataFrame = {
    val kidsPerOrder = Tables.lineitem(spark, dir)
      .where(col("l_quantity") > 25.0)
      .groupBy(col("l_orderkey"))
      .agg(count(lit(1)).as("kc"),
        sum(col("l_extendedprice").cast("decimal(18,2)")).as("kp"))
    Tables.orders(spark, dir).where(col("o_orderstatus") === "F")
      .join(kidsPerOrder, col("o_orderkey") === col("l_orderkey"), "left")
      .groupBy(col("o_orderpriority"))
      .agg(count(lit(1)).as("parent_count"),
        sum(coalesce(col("kc"), lit(0L))).as("child_count"),
        coalesce(sum(col("kp")), lit(0).cast("decimal(18,2)")).cast("double")
          .as("child_price_sum"),
        sum(when(col("kc").isNotNull, 1L).otherwise(0L))
          .as("parents_with_match"))
  }

  /** ES `rate` aggregation (unit: day) inside a calendar-month
    * date_histogram: per (type, month), the event count and value mass
    * NORMALIZED to a per-day rate by the month's actual day count —
    * the calendar-aware division the plain histogram lacks. One
    * partial-aggregated (type, month) shuffle; the day count is
    * integer calendar arithmetic, each rate one IEEE division.
    */
  def q72RateAgg(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir)
      .groupBy(col("event_type"),
        date_trunc("month", col("ts")).cast("date").as("month_start"))
      .agg(count(lit(1)).as("n"), dsum(col("value")).as("value_sum"))
      .select(col("event_type"), col("month_start"), col("n"), col("value_sum"),
        dayofmonth(last_day(col("month_start"))).cast("long").as("days_in_month"),
        (col("n").cast("double") /
          dayofmonth(last_day(col("month_start"))).cast("double"))
          .as("rate_per_day"),
        (col("value_sum") /
          dayofmonth(last_day(col("month_start"))).cast("double"))
          .as("value_per_day"))

  /** ES `bucket_sort` pipeline aggregation (`sort` + `from` + `size`):
    * re-rank the daily date-histogram buckets by their value mass and
    * keep the page `from` [[BsFrom]], `size` [[BsSize]] — the pipeline
    * agg that turns a time series into a leaderboard page. Rank is a
    * row_number over the (value_sum DESC, day ASC) total order —
    * deterministic under ties — and rides the tiny bucket table, not
    * the corpus.
    */
  val BsFrom = 2
  val BsSize = 10

  def q73BucketSort(spark: SparkSession, dir: String): DataFrame = {
    val daily = Tables.events(spark, dir)
      .groupBy(to_date(col("ts")).as("day"))
      .agg(count(lit(1)).as("doc_count"), dsum(col("value")).as("value_sum"))
    val w = Window.orderBy(col("value_sum").desc, col("day").asc)
    daily.withColumn("bucket_rank", row_number().over(w).cast("long"))
      .where(col("bucket_rank") > BsFrom &&
        col("bucket_rank") <= BsFrom + BsSize)
  }

  /** CIDR edges for [[evtIpRange]], as unsigned /8-aligned integer
    * bounds (ES `ip_range` takes explicit from/to addresses; these are
    * 64.0.0.0 and 192.0.0.0).
    */
  val IpRangeEdges: Seq[Long] = Seq(64L << 24, 192L << 24)

  /** Synthetic deterministic IPv4 per event — the low 32 bits of the
    * event-id md5 (the GeoOps coordinate device on the address axis:
    * the testdata has no IP column, and the derivation is identical
    * integer arithmetic on both engines).
    */
  private def ipExpr: String =
    "CAST(conv(substring(md5(CAST(event_id AS STRING)), 1, 15), 16, 10) AS BIGINT) % 4294967296"

  /** ES `ip_range` aggregation: counts and value mass per address
    * range over the synthetic per-event IPv4, every bucket emitted
    * (dense literal frame). Addresses are plain unsigned integers, so
    * membership is two integer compares; the dotted-quad rendering is
    * integer div/mod string assembly — no engine IP type involved
    * (DuckDB's INET vs Spark's lack of one would be a semantics trap;
    * integers are the portable common core ES itself stores).
    */
  def evtIpRange(spark: SparkSession, dir: String): DataFrame = {
    val bounds = (Seq(0L) ++ IpRangeEdges) :+ 4294967296L
    val ranges = bounds.sliding(2).zipWithIndex.map { case (Seq(lo, hi), i) =>
      (i.toLong, lo, hi)
    }.toSeq
    val frame = spark.createDataFrame(ranges)
      .toDF("range_id", "ip_from", "ip_to")
    // dotted quad via integer div/mod ONLY (a float division + int
    // cast would truncate in Spark but round in DuckDB)
    def quad(c: String): Column = expr(
      s"""concat(CAST($c div 16777216 AS STRING), '.',
         |  CAST(($c div 65536) % 256 AS STRING), '.',
         |  CAST(($c div 256) % 256 AS STRING), '.',
         |  CAST($c % 256 AS STRING))""".stripMargin)
    val per = Tables.events(spark, dir)
      .withColumn("ip", expr(ipExpr))
      .crossJoin(broadcast(frame))
      .where(col("ip") >= col("ip_from") && col("ip") < col("ip_to"))
      .groupBy(col("range_id"))
      .agg(count(lit(1)).as("doc_count"), dsum(col("value")).as("value_sum"))
    // hint the nullable (right) side: a broadcast hint on the
    // build-left side of a left-outer join is unsupported and silently
    // dropped. `per` is grouped on range_id, so ≤|ranges| rows.
    frame.join(broadcast(per), Seq("range_id"), "left")
      .withColumn("ip_hi", col("ip_to") - 1L)
      .select(col("range_id"),
        quad("ip_from").as("from_addr"),
        quad("ip_hi").as("to_addr"),
        coalesce(col("doc_count"), lit(0L)).as("doc_count"),
        coalesce(col("value_sum"), lit(0.0d)).as("value_sum"))
  }

  /** Bucket budget for [[evtIpPrefix]]. */
  val IpPrefixTopK = 20

  /** ES `ip_prefix` aggregation (`prefix_length: 8`): bucket the
    * synthetic IPv4 space by /8 network — one integer division — and
    * keep the busiest [[IpPrefixTopK]] networks with the full
    * (count DESC, prefix ASC) tiebreak. One partial-aggregated
    * groupBy on a scan-computed integer key.
    */
  def evtIpPrefix(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir)
      .withColumn("net", expr(s"($ipExpr) div 16777216"))
      .groupBy(col("net"))
      .agg(count(lit(1)).as("doc_count"), dsum(col("value")).as("value_sum"))
      .select(concat(col("net").cast("string"), lit(".0.0.0/8")).as("prefix"),
        col("net"), col("doc_count"), col("value_sum"))
      .orderBy(col("doc_count").desc, col("net").asc)
      .limit(IpPrefixTopK)

  /** Partition fan for [[q74TermsPartition]] (ES `include.partition` /
    * `num_partitions`).
    */
  val TpNumPartitions = 4
  val TpPartition = 1

  /** ES `terms` aggregation with `include: {partition, num_partitions}`
    * — the scale device for enumerating a HIGH-CARDINALITY term space
    * across several requests: each call keeps only the terms whose
    * hash lands in its partition, so no single response (or
    * coordinator) holds the full term set. Partitioning is on the
    * md5-derived 60-bit term hash mod [[TpNumPartitions]] (engine-
    * portable, uniform); within the partition the standard
    * (count DESC, term ASC) ordering applies. The filter sits ON THE
    * GROUPING KEY, so it pushes below the aggregate exchange — each
    * partition's request aggregates only its own term shard.
    */
  def q74TermsPartition(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .select(explode(split(col("text"), " ")).as("term"))
      .where(expr("CAST(conv(substring(md5(term), 1, 15), 16, 10) AS BIGINT)")
        % TpNumPartitions === TpPartition)
      .groupBy(col("term"))
      .agg(count(lit(1)).as("doc_count"))
      .orderBy(col("doc_count").desc, col("term").asc)

  /** ES `bucket_script` pipeline aggregation: a derived per-bucket
    * metric computed FROM sibling aggregations — here the classic
    * conversion rate (purchases / views) plus the purchase value mass
    * per daily bucket. Conditional counts fold map-side (one q1-shaped
    * shuffle); the script output is one guarded IEEE division per
    * bucket (NULL when the denominator bucket is empty, matching ES's
    * skip gap policy).
    */
  def evtBucketScript(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir)
      .groupBy(to_date(col("ts")).as("day"))
      .agg(
        sum(when(col("event_type") === "purchase", 1L).otherwise(0L))
          .as("purchases"),
        sum(when(col("event_type") === "view", 1L).otherwise(0L)).as("views"),
        coalesce(sum(when(col("event_type") === "purchase",
          col("value").cast("decimal(18,2)"))).cast("double"), lit(0.0d))
          .as("purchase_value"))
      .withColumn("conversion",
        when(col("views") > 0L,
          col("purchases").cast("double") / col("views").cast("double")))

  /** Day-of-week-adjusted anomaly flags — [[evtAnomaly]] with weekday
    * seasonality removed: a (type, day) cell is judged against the
    * moments of ITS OWN (type, weekday) cohort, so a quiet Sunday
    * stops flagging as an anomaly just for being a Sunday. The same
    * exact-integer z² rewrite (`(d·x − s)² > Z²·(d·ss − s²)` over
    * cohort sums) — both sides exact, the flag can never wobble.
    * Weekday = Monday 0 (Spark `weekday` ≡ DuckDB `isodow − 1`; bare
    * `dayofweek` anchors differently in the two engines).
    */
  def evtAnomalyDow(spark: SparkSession, dir: String): DataFrame = {
    val z2 = AnomalyZ * AnomalyZ
    val daily = Tables.events(spark, dir)
      .groupBy(col("event_type"), to_date(col("ts")).as("day"))
      .agg(count(lit(1)).as("n"))
      .withColumn("dow", expr("weekday(day)").cast("long"))
    val cohort = Window.partitionBy(col("event_type"), col("dow"))
    def dec(c: Column) = c.cast("decimal(19,0)")
    daily
      .withColumn("d", count(lit(1)).over(cohort))
      .withColumn("s", sum(col("n")).over(cohort))
      .withColumn("ss", sum(dec(col("n")) * dec(col("n"))).over(cohort))
      .select(col("event_type"), col("day"), col("dow"), col("n"),
        (col("s").cast("double") / col("d").cast("double")).as("mean_dow"),
        ((dec(col("d")) * dec(col("n")) - dec(col("s"))) *
          (dec(col("d")) * dec(col("n")) - dec(col("s"))) >
          lit(z2).cast("decimal(19,0)") *
            (dec(col("d")) * col("ss") - dec(col("s")) * dec(col("s"))))
          .as("is_anomaly"))
  }

  /** ES `cumulative_cardinality` pipeline aggregation: per daily
    * bucket, the number of DISTINCT users seen up to and including
    * that day (the "total users to date" curve). Rewritten to the
    * scalable exact form: distinct-to-date ≡ running SUM of
    * first-seen-per-user counts — one user-keyed min-day aggregate +
    * one tiny bucket window, instead of a per-bucket distinct over
    * ever-growing prefixes (which is what makes the ES original a
    * sketch; first-seen needs no approximation and no growing state).
    */
  def evtCumulativeCardinality(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir)
    val daily = ev.groupBy(to_date(col("ts")).as("day"))
      .agg(count(lit(1)).as("doc_count"))
    val newUsers = ev.groupBy(col("user_id"))
      .agg(min(to_date(col("ts"))).as("day"))
      .groupBy(col("day")).agg(count(lit(1)).as("new_users"))
    val w = Window.orderBy(col("day").asc)
      .rowsBetween(Window.unboundedPreceding, 0)
    daily.join(newUsers, Seq("day"), "left")
      .select(col("day"), col("doc_count"),
        coalesce(col("new_users"), lit(0L)).as("new_users"))
      .withColumn("cumulative_users", sum(col("new_users")).over(w))
  }

  /** ES `categorize_text` aggregation, the regex-normalization core:
    * collapse every digit run in the (type + props) message to `#`,
    * so numeric payload variants fold into one log TEMPLATE per
    * message shape — counts, example id, and the value mass per
    * template. One partial-aggregated groupBy on the masked key; the
    * template count is message-shape-bounded, not corpus-bounded.
    * (DuckDB's regexp_replace needs the explicit 'g' flag to match
    * Spark's replace-all default — the mirror sets it.)
    */
  def evtCategorize(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir)
      .select(regexp_replace(concat(col("event_type"), lit(" "), col("props")),
        "[0-9]+", "#").as("template"), col("event_id"), col("value"))
      .groupBy(col("template"))
      .agg(count(lit(1)).as("doc_count"),
        min(col("event_id")).as("example_event"),
        dsum(col("value")).as("value_sum"))
      .orderBy(col("doc_count").desc, col("template").asc)
}
