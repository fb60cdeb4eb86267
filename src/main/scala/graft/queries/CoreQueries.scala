package graft.queries

import graft.sources.Parquet

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Reference-parity operators (SURVEY §2) expressed over the driver
  * testdata tables, each paired with a DuckDB oracle in
  * [[graft.SparkEntry.oracleSql]].
  *
  * Oracle-compat notes (why queries look the way they do):
  *   - Money aggregates use an integer-cents pattern
  *     `sum(floor(x * 100))`: double→decimal casts round differently in
  *     Spark (string-repr HALF_UP) vs DuckDB (binary half-even), while
  *     `floor` on a double is a pure IEEE-754 op — bit-identical in both
  *     engines — and integer sums are order-independent, so results are
  *     deterministic under any partitioning.
  *   - `l_quantity` is integer-valued; double sums of integers < 2^53
  *     are exact and order-independent, so summed raw.
  *   - Averages divide two exact values (long cents / long count) — one
  *     IEEE division, identical in both engines.
  *   - Spark `dayofweek` is 1=Sunday; DuckDB's is 0=Sunday (oracle adds 1).
  */
object CoreQueries {

  private def t(spark: SparkSession, dir: String, name: String): DataFrame =
    Parquet.read(spark, s"$dir/$name.parquet")

  /** Normalizes the events `ts` column to a session-TZ TIMESTAMP
    * regardless of how the parquet was written. Generators have shipped
    * it three ways:
    *   - TIMESTAMP(NANOS), which Spark's vectorized reader rejects —
    *     read as long (`nanosAsLong`, which
    *     [[graft.GraftSession]] sets) and convert with integral `div`
    *     (a double division would lose precision: epoch-nanos ≈ 1.7e18
    *     > 2^53). DuckDB performs the same ns→µs truncation when
    *     casting, so oracles agree.
    *   - TIMESTAMP(MICROS) without tz metadata → TIMESTAMP_NTZ in
    *     Spark but plain TIMESTAMP in DuckDB; cast to the session-TZ
    *     type (UTC session ⇒ identical epoch) so downstream
    *     `unix_micros`/watermark/window code sees one type.
    *   - tz-adjusted TIMESTAMP → already the target type.
    */
  private[graft] def normalizeEventTs(df: DataFrame): DataFrame =
    df.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType =>
        // REINTERPRETATION, not a cast: the long's unit (epoch nanos)
        // is domain knowledge — deliberately outside Drift's lossless
        // table (see Drift.lossless), which would read a bare long
        // cast as seconds.
        df.withColumn("ts", timestamp_micros(expr("ts div 1000")))
      case org.apache.spark.sql.types.TimestampNTZType =>
        // plain cast: the shared lossless lattice owns this rule
        graft.sources.Drift
          .conformColumn(df, "ts", org.apache.spark.sql.types.TimestampType)
      case org.apache.spark.sql.types.TimestampType => df
      case other =>
        throw new IllegalArgumentException(
          s"events.ts has unsupported type ${other.catalogString}; " +
            "expected epoch-nanos BIGINT or a timestamp"
        )
    }

  private[graft] def events(spark: SparkSession, dir: String): DataFrame =
    normalizeEventTs(Parquet.read(spark, s"$dir/events.parquet"))

  private def cents(c: Column): Column = floor(c * 100)

  /** TPC-H Q1-style pricing summary (A-class aggregations; F1 filter).
    * Scale: partial aggregation map-side; 6-group output — shuffle is a
    * few KB regardless of input size.
    */
  def q1PricingSummary(spark: SparkSession, dir: String): DataFrame = {
    val li = t(spark, dir, "lineitem")
    li.filter(col("l_shipdate") <= lit("1998-09-02").cast("timestamp"))
      .groupBy(col("l_returnflag"), col("l_linestatus"))
      .agg(
        sum(col("l_quantity")).as("sum_qty"),
        sum(cents(col("l_extendedprice"))).as("sum_base_cents"),
        sum(cents(col("l_extendedprice") * (lit(1) - col("l_discount")))).as("sum_disc_cents"),
        sum(cents(col("l_extendedprice") * (lit(1) - col("l_discount")) * (lit(1) + col("l_tax"))))
          .as("sum_charge_cents"),
        (sum(cents(col("l_extendedprice"))).cast("double") / (count(lit(1)) * 100))
          .as("avg_price"),
        count(lit(1)).as("count_order")
      )
  }

  /** Equality filter + projection (F1/P1) with predicate pushdown to the
    * parquet scan.
    */
  def q2FilterProject(spark: SparkSession, dir: String): DataFrame =
    events(spark, dir)
      .filter(col("event_type") === "click")
      .select("event_id", "user_id", "value", "props")

  /** Latest-event-per-user with ties kept (A3/F2 argmax semantics):
    * `max(ts) over (partition by user_id)` then self-filter — NOT
    * row_number, which would drop tied rows. One shuffle on user_id.
    */
  def q3UsersLatest(spark: SparkSession, dir: String): DataFrame = {
    val ev = events(spark, dir)
    ev.withColumn("max_ts", max(col("ts")).over(Window.partitionBy(col("user_id"))))
      .filter(col("ts") === col("max_ts") && col("user_id").isNotNull)
      .select(
        col("user_id"),
        col("ts").as("last_ts"),
        col("event_type").as("last_event_type"),
        col("value").as("last_value")
      )
  }

  /** Time dimension (C1-C6 + A2): distinct second-truncated timestamps
    * with calendar parts — the reference's time_table over `events.ts`.
    */
  def q4TimeDims(spark: SparkSession, dir: String): DataFrame =
    events(spark, dir)
      .select(date_trunc("second", col("ts")).as("start_time"))
      .distinct()
      .select(
        col("start_time"),
        hour(col("start_time")).as("hour"),
        dayofmonth(col("start_time")).as("day"),
        weekofyear(col("start_time")).as("week"),
        month(col("start_time")).as("month"),
        year(col("start_time")).as("year"),
        dayofweek(col("start_time")).as("weekday")
      )

  /** distinct() dedup-all-columns (A1). */
  def q5Distinct(spark: SparkSession, dir: String): DataFrame =
    t(spark, dir, "customer")
      .select(col("c_mktsegment").as("mktsegment"), col("c_nationkey").as("nationkey"))
      .distinct()

  /** Full-outer USING-column join (J1): key coalesced, no duplicate
    * column. At scale: sort-merge on the shuffled key; AQE handles skew.
    */
  def q6JoinFullUsing(spark: SparkSession, dir: String): DataFrame = {
    val orders = t(spark, dir, "orders")
      .select(col("o_custkey").as("custkey"), col("o_orderkey"), col("o_totalprice"))
    val cust = t(spark, dir, "customer")
      .select(col("c_custkey").as("custkey"), col("c_name"), col("c_mktsegment"))
    orders.join(cust, Seq("custkey"), "full")
  }

  /** Left join on a multi-column condition including exact Double
    * equality (J2 semantics: `length == duration`). The dim is the
    * max-quantity-per-part table — it SCALES with `part`, so no
    * broadcast hint: under the size threshold Catalyst broadcasts on
    * its own, above it the join degrades safely to shuffle (and AQE
    * upgrades SMJ→BHJ at runtime when the built side turns out small).
    * A forced hint would OOM at 100 TB and AQE never demotes hints.
    */
  def q7JoinLeftMulti(spark: SparkSession, dir: String): DataFrame = {
    val li = t(spark, dir, "lineitem")
    val dim = li
      .groupBy(col("l_partkey").as("pk"))
      .agg(max(col("l_quantity")).as("max_qty"))
    li.join(
      dim,
      li("l_partkey") === dim("pk") && li("l_quantity") === dim("max_qty"),
      "left"
    ).select(
      col("l_orderkey"),
      col("l_linenumber"),
      col("l_partkey"),
      col("l_quantity"),
      col("max_qty")
    )
  }

  /** Left USING-column join (J3): fact ⟕ dim picking up attributes. */
  def q8JoinLeftUsing(spark: SparkSession, dir: String): DataFrame = {
    val li = t(spark, dir, "lineitem")
      .select(col("l_orderkey").as("orderkey"), col("l_linenumber"), col("l_extendedprice"))
    val orders = t(spark, dir, "orders")
      .select(col("o_orderkey").as("orderkey"), col("o_orderdate"), col("o_orderpriority"))
    li.join(orders, Seq("orderkey"), "left")
  }

  /** Global top-k: orderBy + limit with a deterministic tiebreak.
    * Spark executes as TakeOrderedAndProject — per-partition top-k then
    * a k-row merge on the driver; no full sort at 100 TB.
    */
  def q9TopK(spark: SparkSession, dir: String): DataFrame =
    t(spark, dir, "orders")
      .orderBy(col("o_totalprice").desc, col("o_orderkey").asc)
      .limit(15)
      .select("o_orderkey", "o_custkey", "o_totalprice", "o_orderstatus")

  /** Ranking window: top-3 orders per customer (row_number with a
    * deterministic order). One shuffle on custkey.
    */
  def q10WindowRank(spark: SparkSession, dir: String): DataFrame = {
    val w = Window
      .partitionBy(col("o_custkey"))
      .orderBy(col("o_totalprice").desc, col("o_orderkey").asc)
    t(spark, dir, "orders")
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") <= 3)
      .select("o_custkey", "o_orderkey", "o_totalprice", "rk")
  }

  /** Sessionization: new session when the gap to the previous event of
    * the same user exceeds 30 minutes (lag + running sum). The
    * second-granularity gap uses epoch-seconds longs so both engines
    * compare identical integers.
    */
  def q11Sessionize(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    events(spark, dir)
      .withColumn("prev_s", lag(col("ts").cast("long"), 1).over(w))
      .withColumn(
        "new_sess",
        when(col("prev_s").isNull || col("ts").cast("long") - col("prev_s") > 1800, 1L)
          .otherwise(0L)
      )
      .withColumn(
        "session_seq",
        sum(col("new_sess")).over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow))
      )
      .select("event_id", "user_id", "session_seq")
  }

  /** Star join: revenue per nation for one region. The canonical 100 TB
    * shape: fact scans stay distributed; dims under
    * `autoBroadcastJoinThreshold` ship to executors once WITHOUT
    * explicit hints — region/nation always qualify, customer only while
    * it fits, and above threshold the planner falls back to a shuffled
    * join that AQE can still upgrade at runtime. Forced `broadcast()`
    * hints are deliberately absent: they bypass the size check and AQE
    * never demotes them, which OOMs on unbounded dims at scale.
    */
  def q12StarJoin(spark: SparkSession, dir: String): DataFrame = {
    val region = t(spark, dir, "region").filter(col("r_name") === "ASIA")
    val nation = t(spark, dir, "nation")
    val cust = t(spark, dir, "customer")
    val orders = t(spark, dir, "orders")
    val li = t(spark, dir, "lineitem")
    li.join(orders, li("l_orderkey") === orders("o_orderkey"))
      .join(cust, orders("o_custkey") === cust("c_custkey"))
      .join(nation, cust("c_nationkey") === nation("n_nationkey"))
      .join(region, nation("n_regionkey") === region("r_regionkey"))
      .groupBy(col("n_name").as("nation"))
      .agg(
        sum(cents(col("l_extendedprice") * (lit(1) - col("l_discount")))).as("revenue_cents"),
        count(lit(1)).as("n_items")
      )
  }

  /** Set operations: INTERSECT / EXCEPT / UNION ALL composition. */
  def q13SetOps(spark: SparkSession, dir: String): DataFrame = {
    val custNations = t(spark, dir, "customer").select(col("c_nationkey").as("nationkey")).distinct()
    val suppNations = t(spark, dir, "supplier").select(col("s_nationkey").as("nationkey")).distinct()
    custNations
      .intersect(suppNations)
      .withColumn("side", lit("both"))
      .unionAll(custNations.except(suppNations).withColumn("side", lit("cust_only")))
  }

  /** CUBE grouping sets: all 2^2 grouping combinations in one pass. */
  def q33Cube(spark: SparkSession, dir: String): DataFrame =
    t(spark, dir, "orders")
      .cube(col("o_orderstatus"), col("o_orderpriority"))
      .agg(
        count(lit(1)).as("n"),
        sum(cents(col("o_totalprice"))).as("total_cents")
      )

  /** ROLLUP grouping sets (beyond the reference — §2.4 extension). */
  def q14Rollup(spark: SparkSession, dir: String): DataFrame =
    t(spark, dir, "lineitem")
      .rollup(col("l_returnflag"), col("l_linestatus"))
      .agg(sum(col("l_quantity")).as("sum_qty"), count(lit(1)).as("n"))

  /** Semi-structured JSON extraction from the events `props` column. */
  def q15JsonExtract(spark: SparkSession, dir: String): DataFrame =
    events(spark, dir)
      .select(get_json_object(col("props"), "$.k").cast("int").as("k"))
      .groupBy(col("k"))
      .agg(count(lit(1)).as("n"))

  /** As-of join (point-in-time-correct lookup): each event picks up the
    * user's most recent order as of the event time — DuckDB's native
    * ASOF JOIN is the oracle. See [[graft.operators.AsOfJoin]] for the
    * single-shuffle composition.
    */
  def q29AsofJoin(spark: SparkSession, dir: String): DataFrame = {
    val ev = events(spark, dir).select(col("event_id"), col("user_id"), col("ts"))
    val ord = t(spark, dir, "orders")
      .groupBy(col("o_custkey").as("user_id"), col("o_orderdate"))
      .agg(max(col("o_totalprice")).as("last_order_price"))
    graft.operators.AsOfJoin
      .asofJoin(ev, ord, "user_id", "ts", "o_orderdate")
      .select("event_id", "user_id", "asof_o_orderdate", "last_order_price")
  }

  /** Sketch aggregation: approximate distinct counts (HLL++). Raw
    * sketch estimates are engine-specific, so the checkable surface
    * splits in two inside ONE hashed comparison: the exact counts
    * hash-match the oracle directly, and each estimate is validated as a
    * relative-error flag (|approx−exact|/exact ≤ 5%, with rsd=0.016 —
    * a >3σ bound at a ~2.6× smaller sketch than rsd=0.01; HLL++ is
    * deterministic for fixed input, so the flag is stable across runs)
    * that the oracle asserts as literal TRUE.
    */
  def q30ApproxDistinct(spark: SparkSession, dir: String): DataFrame = {
    // The sketches and the exact counts run as SEPARATE aggregations
    // joined on the 3-row group key: mixing approx_count_distinct with
    // multi-column countDistinct in one agg routes the (large) HLL
    // buffer through the multi-distinct Expand rewrite, which copies
    // the sketch per expanded input row — measured 83 s vs 5 s at sf0.1.
    // The resulting DOUBLE SCAN of lineitem is deliberate: both scans
    // are pruned to 3 int columns, and at 100 TB two cheap columnar
    // scans beat materializing a shared projection (cache/checkpoint of
    // a fact-sized intermediate) just to save one of them.
    val li = t(spark, dir, "lineitem")
    val exact = li
      .groupBy(col("l_returnflag"))
      .agg(
        countDistinct(col("l_partkey")).as("n_parts"),
        countDistinct(col("l_orderkey")).as("n_orders"),
        count(lit(1)).as("n")
      )
    val approx = li
      .groupBy(col("l_returnflag"))
      .agg(
        approx_count_distinct(col("l_partkey"), 0.016).as("ap"),
        approx_count_distinct(col("l_orderkey"), 0.016).as("ao")
      )
    exact
      .join(approx, Seq("l_returnflag"))
      .select(
        col("l_returnflag"),
        col("n_parts"),
        col("n_orders"),
        col("n"),
        (abs(col("ap") - col("n_parts")).cast("double") / col("n_parts") <= 0.05)
          .as("parts_within_5pct"),
        (abs(col("ao") - col("n_orders")).cast("double") / col("n_orders") <= 0.05)
          .as("orders_within_5pct")
      )
  }

  /** Running total per customer with the default RANGE frame (peers of
    * equal orderdate share the running value in both engines, so the
    * result is deterministic even with date ties).
    */
  def q37RunningTotal(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("o_custkey")).orderBy(col("o_orderdate"))
    t(spark, dir, "orders")
      .withColumn("running_cents", sum(cents(col("o_totalprice"))).over(w))
      .select("o_orderkey", "o_custkey", "o_orderdate", "running_cents")
  }

  /** lead/lag navigation: gap in days to the customer's previous and
    * next order (deterministic total order via the orderkey tiebreak).
    */
  def q38LeadLag(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("o_custkey")).orderBy(col("o_orderdate"), col("o_orderkey"))
    t(spark, dir, "orders")
      .withColumn("prev_date", lag(col("o_orderdate"), 1).over(w))
      .withColumn("next_date", lead(col("o_orderdate"), 1).over(w))
      .select(
        col("o_orderkey"),
        col("o_custkey"),
        datediff(col("o_orderdate"), col("prev_date")).as("days_since_prev"),
        datediff(col("next_date"), col("o_orderdate")).as("days_until_next")
      )
  }

  /** Pivot: event counts per user spread into one column per event
    * type (explicit value list → conditional-aggregation equivalent).
    */
  def q39Pivot(spark: SparkSession, dir: String): DataFrame =
    events(spark, dir)
      .groupBy(col("user_id"))
      .pivot("event_type", Seq("click", "error", "purchase", "signup", "view"))
      .count()
      .na
      .fill(0L)

  /** Range (interval) join with NO equi key: for each purchase event,
    * count click events — from ANY user — in the trailing 10-minute
    * window, plus the gap to the nearest one. Spark would plan the bare
    * range predicate as a nested-loop/cartesian join;
    * [[graft.operators.RangeJoin]] turns it into a bucketed equi join
    * (15-minute buckets, ≤2 replicas per interval) that shuffles by
    * bucket and stays distributed at any scale. Second-granularity
    * epoch longs keep the window arithmetic exact in both engines.
    */
  def q40RangeJoin(spark: SparkSession, dir: String): DataFrame = {
    val ev = events(spark, dir)
    val purchases = ev
      .filter(col("event_type") === "purchase")
      .select(col("event_id"), col("ts").cast("long").as("es"))
      .withColumn("lo", col("es") - 600)
    val clicks = ev
      .filter(col("event_type") === "click")
      .select(col("ts").cast("long").as("ces"))
    graft.operators.RangeJoin
      .rangeJoin(purchases, clicks, "lo", "es", "ces", 900L)
      .groupBy(col("event_id"))
      .agg(
        count(lit(1)).as("n_clicks"),
        min(col("es") - col("ces")).as("min_gap_s")
      )
  }

  /** Column profiling (data-quality audit): row count, null count and
    * distinct count for four orders columns in ONE scan — the
    * multi-`countDistinct` plans as a single Expand+aggregate, then
    * `stack` pivots the scalar row into one row per column. The
    * one-pass shape matters at 100 TB: the naive per-column
    * UNION ALL would scan the fact table once per column.
    */
  def q44Profile(spark: SparkSession, dir: String): DataFrame =
    t(spark, dir, "orders")
      .agg(
        count(lit(1)).as("n"),
        sum(col("o_orderstatus").isNull.cast("long")).as("null_status"),
        countDistinct(col("o_orderstatus")).as("dist_status"),
        sum(col("o_orderpriority").isNull.cast("long")).as("null_priority"),
        countDistinct(col("o_orderpriority")).as("dist_priority"),
        sum(col("o_custkey").isNull.cast("long")).as("null_custkey"),
        countDistinct(col("o_custkey")).as("dist_custkey"),
        sum(col("o_totalprice").isNull.cast("long")).as("null_price"),
        countDistinct(col("o_totalprice")).as("dist_price")
      )
      .selectExpr(
        """stack(4,
          |  'o_orderstatus',   n, null_status,   dist_status,
          |  'o_orderpriority', n, null_priority, dist_priority,
          |  'o_custkey',       n, null_custkey,  dist_custkey,
          |  'o_totalprice',    n, null_price,    dist_price
          |) as (column_name, n, n_null, n_distinct)""".stripMargin
      )

  /** Fixed-width histogram over order totals: bin index is exact
    * integer math (`floor(price / 50000)`); counts and cents sums are
    * order-independent. One partial-agg shuffle of #bins rows.
    */
  def q45Histogram(spark: SparkSession, dir: String): DataFrame =
    t(spark, dir, "orders")
      .groupBy(floor(col("o_totalprice") / 50000).as("bin"))
      .agg(
        count(lit(1)).as("n"),
        sum(cents(col("o_totalprice"))).as("sum_cents")
      )

  /** Exact per-group lower median — the value at rank `(n+1) div 2` —
    * WITHOUT sorting whole groups: a row_number window partitioned by
    * the group key would place each group's entire membership on one
    * task (3 tasks sorting everything at 100 TB). Instead the input
    * collapses to a per-(group, value) HISTOGRAM with map-side partial
    * counts — shuffle volume is #groups × #distinct values — and the
    * median is read off the tiny histogram's cumulative counts: the
    * value whose cumulative range covers the target rank. Identical
    * result to the rank definition (and to the SQL oracle, which keeps
    * the row_number formulation); no engine-specific interpolation.
    */
  def q46ExactMedian(spark: SparkSession, dir: String): DataFrame = {
    val hist = t(spark, dir, "lineitem")
      .groupBy(col("l_returnflag"), col("l_quantity"))
      .agg(count(lit(1)).as("cnt"))
    val wCum = Window
      .partitionBy(col("l_returnflag"))
      .orderBy(col("l_quantity"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    hist
      .withColumn("cum", sum(col("cnt")).over(wCum))
      .withColumn("n", sum(col("cnt")).over(Window.partitionBy(col("l_returnflag"))))
      .withColumn("target", expr("(n + 1) div 2")) // integral div: `/` on longs is double division
      .filter(col("cum") - col("cnt") < col("target") && col("target") <= col("cum"))
      .select(col("l_returnflag"), col("n"), col("l_quantity").as("median_qty"))
  }

  /** Approximate percentile sketch with an in-hash error bound (the
    * q30 pattern): the exact rank-arithmetic median is the hashed
    * truth; `percentile_approx`'s estimate — engine-specific sketch
    * internals — is validated as a within-1-quantity-unit flag the
    * oracle asserts as literal TRUE.
    */
  def q51ApproxQuantile(spark: SparkSession, dir: String): DataFrame = {
    val approx = t(spark, dir, "lineitem")
      .groupBy(col("l_returnflag"))
      .agg(percentile_approx(col("l_quantity"), lit(0.5), lit(10000)).as("ap_med"))
    q46ExactMedian(spark, dir)
      .join(approx, Seq("l_returnflag"))
      .select(
        col("l_returnflag"),
        col("n"),
        col("median_qty"),
        (abs(col("ap_med") - col("median_qty")) <= 1.0).as("median_within_1")
      )
  }

  /** Sliding event-time windows (1 h length, 30 min hop) via Spark's
    * `window()` — each event lands in exactly two windows, expanded
    * map-side (an Expand, not a join), then one keyed partial-agg
    * shuffle. The batch twin of the streaming windowed aggregation in
    * [[graft.streaming.StreamingPipeline]].
    */
  def q47SlidingWindow(spark: SparkSession, dir: String): DataFrame =
    events(spark, dir)
      .groupBy(window(col("ts"), "1 hour", "30 minutes"))
      .agg(
        count(lit(1)).as("n"),
        sum(cents(col("value"))).as("sum_value_cents")
      )
      .select(col("window.start").as("window_start"), col("n"), col("sum_value_cents"))

  /** The SQL API surface: the same engine queried through `spark.sql`
    * over registered views (TPC-H Q3's shape on the available columns) —
    * users of the reference can keep writing SQL verbatim. Catalyst
    * plans it identically to the DataFrame form: dims under threshold
    * broadcast, one group-by shuffle, TakeOrderedAndProject for the
    * top-k.
    */
  def q53SqlSurface(spark: SparkSession, dir: String): DataFrame = {
    t(spark, dir, "customer").createOrReplaceTempView("graft_customer")
    t(spark, dir, "orders").createOrReplaceTempView("graft_orders")
    t(spark, dir, "lineitem").createOrReplaceTempView("graft_lineitem")
    spark.sql(
      """SELECT o_orderkey, o_orderdate,
        |  sum(floor(l_extendedprice * (1 - l_discount) * 100)) AS revenue_cents
        |FROM graft_customer
        |JOIN graft_orders ON c_custkey = o_custkey
        |JOIN graft_lineitem ON l_orderkey = o_orderkey
        |WHERE c_mktsegment = 'BUILDING'
        |  AND o_orderdate < TIMESTAMP '1995-06-30 00:00:00'
        |  AND l_shipdate > TIMESTAMP '1995-06-30 00:00:00'
        |GROUP BY o_orderkey, o_orderdate
        |ORDER BY revenue_cents DESC, o_orderkey ASC
        |LIMIT 10""".stripMargin
    )
  }

  /** Z-order (Morton) values over (l_partkey, l_suppkey): the sort key
    * [[graft.operators.Maintenance.zorderWrite]] clusters files by, so
    * per-file min/max footer stats stay tight on BOTH columns and a
    * predicate on either prunes most files. The min/max normalization
    * scalars arrive via a 1-row broadcast join (never a driver
    * collect); the z-value itself is pure integer bit arithmetic in one
    * codegen'd projection. ZorderSpec proves the layout actually prunes.
    */
  def q57Zorder(spark: SparkSession, dir: String): DataFrame = {
    val li = t(spark, dir, "lineitem")
    val mm = li.agg(
      min(col("l_partkey")).as("pmn"),
      max(col("l_partkey")).as("pmx"),
      min(col("l_suppkey")).as("smn"),
      max(col("l_suppkey")).as("smx")
    )
    li.crossJoin(broadcast(mm))
      .select(
        col("l_orderkey"),
        col("l_linenumber"),
        graft.operators.Maintenance
          .zValue(col("l_partkey"), col("l_suppkey"), col("pmn"), col("pmx"), col("smn"), col("smx"), 8)
          .as("zval")
      )
  }

  /** Distribution-analytic window suite: ntile quartiles, percent_rank,
    * cume_dist, first/last value — one partition-keyed sort, every
    * function sharing the same window frame. The ratio functions return
    * single IEEE divisions of exact rank/count operands, so results are
    * engine-portable. Deterministic total order via (o_orderdate,
    * o_orderkey).
    */
  def q59WindowSuite(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("o_custkey")).orderBy(col("o_orderdate"), col("o_orderkey"))
    val wAll = w.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    t(spark, dir, "orders").select(
      col("o_orderkey"),
      col("o_custkey"),
      ntile(4).over(w).cast("int").as("quartile"),
      percent_rank().over(w).as("pct_rank"),
      cume_dist().over(w).as("cume"),
      first(col("o_orderkey")).over(w).as("first_ok"),
      last(col("o_orderkey")).over(wAll).as("last_ok")
    )
  }

  /** Semi/anti join surface (EXISTS / NOT EXISTS): customers split by
    * whether they have orders. Both joins build on the orders side
    * key-distinct — never materializing the match multiplicity.
    */
  def q60SemiAnti(spark: SparkSession, dir: String): DataFrame = {
    val c = t(spark, dir, "customer")
    val o = t(spark, dir, "orders").select(col("o_custkey").as("c_custkey"))
    c.join(o, Seq("c_custkey"), "left_semi")
      .select(col("c_custkey"), col("c_name"), lit("has_orders").as("side"))
      .unionByName(
        c.join(o, Seq("c_custkey"), "left_anti")
          .select(col("c_custkey"), col("c_name"), lit("no_orders").as("side"))
      )
  }

  /** Time-series gap filling + forward fill (the resampling shape):
    * per-user hourly activity grid between the user's first and last
    * hour, missing hours filled with zero counts and the last seen
    * hourly cents carried forward. The grid is an arithmetic
    * `sequence` explode — its size is bounded by each key's time span,
    * never by the corpus; the fill is one keyed left join plus an
    * ignoreNulls running window on the same partitioning.
    */
  def q61GapFill(spark: SparkSession, dir: String): DataFrame = {
    val ev = events(spark, dir).filter(col("user_id").isNotNull)
    val hourly = ev
      .groupBy(col("user_id"), date_trunc("hour", col("ts")).as("h"))
      .agg(count(lit(1)).as("n_ev"), sum(cents(col("value"))).cast("long").as("cents"))
    val grid = hourly
      .groupBy(col("user_id"))
      .agg(min(col("h")).as("h0"), max(col("h")).as("h1"))
      .select(col("user_id"), explode(sequence(col("h0"), col("h1"), expr("INTERVAL 1 HOUR"))).as("h"))
    val wFf = Window
      .partitionBy(col("user_id"))
      .orderBy(col("h"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    grid
      .join(hourly, Seq("user_id", "h"), "left")
      .select(
        col("user_id"),
        col("h"),
        coalesce(col("n_ev"), lit(0L)).as("n_ev"),
        last(col("cents"), ignoreNulls = true).over(wFf).as("cents_ff")
      )
  }

  /** Explicit GROUPING SETS (beyond the rollup/cube shorthands) with
    * per-column grouping flags — the SQL surface, since the DataFrame
    * API only exposes rollup/cube. One Expand + one keyed agg.
    */
  def q62GroupingSets(spark: SparkSession, dir: String): DataFrame = {
    t(spark, dir, "lineitem").createOrReplaceTempView("lineitem_gs")
    spark.sql(
      """SELECT l_returnflag, l_linestatus,
        |  CAST(grouping(l_returnflag) AS INT) AS g_flag,
        |  CAST(grouping(l_linestatus) AS INT) AS g_status,
        |  sum(l_quantity) AS sum_qty, count(*) AS n
        |FROM lineitem_gs
        |GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), (l_returnflag, l_linestatus), ())
        |""".stripMargin
    )
  }

  /** Sessionization via Spark's NATIVE `session_window` operator (the
    * declarative twin of q11's lag+running-sum construction and the
    * streaming sessionizer): 30-minute-gap sessions per user with the
    * engine-managed merge. Session end = last event + gap; a gap of
    * EXACTLY 30 minutes starts a new session (end-exclusive window),
    * which the oracle mirrors with a `>=` gap test.
    */
  def q63SessionWindow(spark: SparkSession, dir: String): DataFrame =
    events(spark, dir)
      .filter(col("user_id").isNotNull)
      .groupBy(col("user_id"), session_window(col("ts"), "30 minutes"))
      .agg(count(lit(1)).as("n_ev"))
      .select(
        col("user_id"),
        col("session_window.start").as("session_start"),
        col("session_window.end").as("session_end"),
        col("n_ev")
      )

  /** Data-quality constraint suite (what a training pipeline runs
    * before accepting a snapshot): referential integrity via anti
    * joins, key uniqueness, null-rate, and domain checks — one small
    * keyed job per constraint, unioned into a (check, n_violations)
    * report. Every check is output-bounded (violation counts), so the
    * report is driver-safe at any corpus size.
    */
  def q64DqChecks(spark: SparkSession, dir: String): DataFrame = {
    val orders = t(spark, dir, "orders")
    val customer = t(spark, dir, "customer")
    val lineitem = t(spark, dir, "lineitem")
    val ev = events(spark, dir)
    def check(name: String, agg: DataFrame): DataFrame =
      agg.select(lit(name).as("check_name"), coalesce(col("n"), lit(0L)).as("n_violations"))
    Seq(
      check(
        "orders_orphan_custkey",
        orders
          .join(customer.select(col("c_custkey").as("o_custkey")), Seq("o_custkey"), "left_anti")
          .agg(count(lit(1)).as("n"))
      ),
      check(
        "lineitem_orphan_orderkey",
        lineitem
          .join(orders.select(col("o_orderkey").as("l_orderkey")), Seq("l_orderkey"), "left_anti")
          .agg(count(lit(1)).as("n"))
      ),
      check(
        "customer_dup_custkey",
        customer
          .groupBy(col("c_custkey"))
          .agg(count(lit(1)).as("c"))
          .filter(col("c") > 1)
          .agg(count(lit(1)).as("n"))
      ),
      check("events_null_user", ev.agg(sum(col("user_id").isNull.cast("long")).as("n"))),
      check("events_negative_value", ev.agg(sum((col("value") < 0).cast("long")).as("n")))
    ).reduce(_ unionByName _)
  }

  /** Per-group outlier detection (2σ rule) with exact distributed
    * statistics: per event_type, mean/variance come from integer sums
    * of cents and squared cents — order-independent under any
    * partitioning (never a double sum) — and the per-row flag
    * `(c−μ)² > 4σ²` is a fixed sequence of IEEE ops both engines
    * evaluate identically. Two keyed aggs + one broadcast-eligible
    * stats join; outputs are group-bounded counts. Int64 headroom:
    * Σc² ≤ n·(56e3)² stays under 2^63 past 10^10 rows.
    */
  def q65Outliers(spark: SparkSession, dir: String): DataFrame = {
    val ev = events(spark, dir).select(col("event_type"), cents(col("value")).cast("long").as("c"))
    val stats = ev
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"), sum(col("c")).as("s1"), sum(col("c") * col("c")).as("s2"))
    val mu = col("s1").cast("double") / col("n")
    val varr = col("s2").cast("double") / col("n") - mu * mu
    val cd = col("c").cast("double")
    ev.join(stats, Seq("event_type"))
      .withColumn("fl", ((cd - mu) * (cd - mu) > varr * 4).cast("long"))
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"), sum(col("fl")).as("n_outliers"))
  }

  /** rank vs dense_rank vs row_number on TIED keys (same orderdate per
    * customer): the three ranking semantics differ exactly on ties, so
    * emitting all three over a tie-bearing order pins each one's
    * contract. row_number gets a deterministic tiebreak; rank/dense_rank
    * are functions of the (tied) sort key alone.
    */
  def q69RankDense(spark: SparkSession, dir: String): DataFrame = {
    val byDate = Window.partitionBy(col("o_custkey")).orderBy(col("o_orderdate"))
    val byDateTb = Window.partitionBy(col("o_custkey")).orderBy(col("o_orderdate"), col("o_orderkey"))
    t(spark, dir, "orders").select(
      col("o_orderkey"),
      col("o_custkey"),
      col("o_orderdate"),
      rank().over(byDate).cast("int").as("rk"),
      dense_rank().over(byDate).cast("int").as("drk"),
      row_number().over(byDateTb).cast("int").as("rn")
    )
  }

  /** Deterministic collection aggregation: per customer, the sorted
    * order-key list (joined to a string — engine-portable and safe to
    * hash) plus first/last elements and size. `collect_list` alone is
    * partition-order-dependent; `array_sort` makes it a pure function
    * of the group — the only way a collected array is comparable
    * across engines or even across runs.
    */
  def q70Collect(spark: SparkSession, dir: String): DataFrame =
    t(spark, dir, "orders")
      .groupBy(col("o_custkey"))
      .agg(array_sort(collect_list(col("o_orderkey"))).as("ks"))
      .select(
        col("o_custkey"),
        array_join(transform(col("ks"), k => k.cast("string")), ",").as("order_keys"),
        element_at(col("ks"), 1).as("first_key"),
        element_at(col("ks"), -1).as("last_key"),
        size(col("ks")).as("n_orders")
      )

  /** Funnel analysis (view → click within 1 h → purchase within 1 h):
    * how many users reach each sequential stage, each step strictly
    * AFTER the previous one and inside its conversion window. Event
    * order uses a zero-padded `(epoch_µs, event_id)` string key —
    * totally ordered, tie-deterministic in both engines, and the µs
    * prefix parses back out for the window test. Three keyed
    * aggregations + two same-key joins (the shuffle is reused); output
    * is ≤4 rows.
    */
  def q71Funnel(spark: SparkSession, dir: String): DataFrame = {
    // ts/event_id null guards pin cross-engine behavior: Spark's
    // format_string renders a null arg as the TEXT "null" (which sorts
    // before digits), DuckDB's printf null-propagates — a null-ts event
    // would become the min key in one engine and vanish in the other.
    val e = events(spark, dir)
      .filter(col("user_id").isNotNull && col("ts").isNotNull && col("event_id").isNotNull)
      .select(
        col("user_id"),
        col("event_type"),
        format_string("%020d_%012d", unix_micros(col("ts")), col("event_id")).as("k")
      )
    val v = e
      .groupBy(col("user_id"))
      .agg(min(when(col("event_type") === "view", col("k"))).as("vk"))
    val c = e
      .join(v, Seq("user_id"))
      .groupBy(col("user_id"))
      .agg(
        min(
          when(
            col("event_type") === "click" && col("k") > col("vk") &&
              substring(col("k"), 1, 20).cast("long") <=
              substring(col("vk"), 1, 20).cast("long") + 3600000000L,
            col("k")
          )
        ).as("ck")
      )
    val p = e
      .join(c, Seq("user_id"))
      .groupBy(col("user_id"))
      .agg(
        min(
          when(
            col("event_type") === "purchase" && col("k") > col("ck") &&
              substring(col("k"), 1, 20).cast("long") <=
              substring(col("ck"), 1, 20).cast("long") + 3600000000L,
            col("k")
          )
        ).as("pk")
      )
    v.join(c, Seq("user_id"))
      .join(p, Seq("user_id"))
      .select(
        when(col("pk").isNotNull, 3)
          .when(col("ck").isNotNull, 2)
          .when(col("vk").isNotNull, 1)
          .otherwise(0)
          .cast("int")
          .as("stage")
      )
      .groupBy(col("stage"))
      .agg(count(lit(1)).as("n_users"))
  }

  /** Cohort retention: users bucketed by signup week, counted as
    * retained in week k if they have ANY event k weeks after signup.
    * Weeks are integer epoch-week numbers via FLOOR division —
    * `floor(a/b)` (exact here: quotient magnitude ≈ 2800, see the q57
    * bound) matches DuckDB's floor-semantics `//` for pre-1970
    * timestamps too, where Spark's `div` would truncate toward zero.
    * Shape: one distinct (user, week) agg, one per-user
    * min, one keyed join, one count-distinct grid — all user-keyed
    * shuffles; the output grid is #cohorts × #weeks, corpus-independent.
    */
  def q72Retention(spark: SparkSession, dir: String): DataFrame = {
    val wk = 604800000000L // µs per week
    val e = events(spark, dir)
      .filter(col("user_id").isNotNull)
      .select(
        col("user_id"),
        col("event_type"),
        floor(unix_micros(col("ts")) / wk).cast("long").as("week")
      )
    val signup = e
      .filter(col("event_type") === "signup")
      .groupBy(col("user_id"))
      .agg(min(col("week")).as("cohort_week"))
    val activity = e.select(col("user_id"), col("week")).distinct()
    activity
      .join(signup, Seq("user_id"))
      .filter(col("week") >= col("cohort_week"))
      .groupBy(col("cohort_week"), (col("week") - col("cohort_week")).as("weeks_since"))
      .agg(countDistinct(col("user_id")).as("n_users"))
  }

  /** Exact multi-percentiles (p25/p50/p95) per group via the q46 value
    * histogram: one (group, value) agg, a tiny cumulative window over
    * the histogram, and ceil-rank integer arithmetic — no
    * engine-specific interpolation anywhere, and whole groups never
    * land on one task (the histogram is #distinct-values rows, not
    * #rows). Ranks: ceil(p·n) computed as integral `div`s.
    */
  def q73Percentiles(spark: SparkSession, dir: String): DataFrame = {
    val hist = t(spark, dir, "lineitem")
      .groupBy(col("l_returnflag"), col("l_quantity"))
      .agg(count(lit(1)).as("cnt"))
    val wCum = Window
      .partitionBy(col("l_returnflag"))
      .orderBy(col("l_quantity"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    def at(target: Column): Column =
      min(when(col("cum") - col("cnt") < target && target <= col("cum"), col("l_quantity")))
    hist
      .withColumn("cum", sum(col("cnt")).over(wCum))
      .withColumn("n", sum(col("cnt")).over(Window.partitionBy(col("l_returnflag"))))
      .groupBy(col("l_returnflag"))
      .agg(
        max(col("n")).as("n"),
        at(expr("(n + 3) div 4")).as("p25"),
        at(expr("(n + 1) div 2")).as("p50"),
        at(expr("(19 * n + 19) div 20")).as("p95")
      )
  }

  /** Sketch-vs-exact quantiles: per-group p50/p95/p99 computed exactly
    * via the q73 value-histogram rank arithmetic, PLUS in-band proof
    * that the [[graft.functions.TDigestAgg]] mergeable t-digest lands
    * within ±2 % of target rank — the q30 pattern (the oracle can't run
    * the sketch, so the sketch's contract travels as boolean flags the
    * oracle asserts as literal `true`; the sketch's own rank error with
    * δ=300 is ≈0.5 %, a 4× margin). Two aggregates over one scan
    * lineage: the exact path shuffles the (group, value) histogram, the
    * sketch path shuffles ~2 KB digests per group — at unbounded value
    * cardinality (where the histogram trick degrades to a sort) the
    * digest column is the only scalable plan, which is why the flags
    * matter.
    */
  def q88SketchQuantiles(spark: SparkSession, dir: String): DataFrame = {
    val li = t(spark, dir, "lineitem")
      .select(col("l_returnflag"), col("l_quantity").cast("double").as("v"))
    val hist = li.groupBy(col("l_returnflag"), col("v")).agg(count(lit(1)).as("cnt"))
    val wCum = Window
      .partitionBy(col("l_returnflag"))
      .orderBy(col("v"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    def at(target: Column): Column =
      min(when(col("cum") - col("cnt") < target && target <= col("cum"), col("v")))
    val exact = hist
      .withColumn("cum", sum(col("cnt")).over(wCum))
      .withColumn("n", sum(col("cnt")).over(Window.partitionBy(col("l_returnflag"))))
      .groupBy(col("l_returnflag"))
      .agg(
        max(col("n")).as("n"),
        at(expr("(n + 1) div 2")).as("p50"),
        at(expr("(19 * n + 19) div 20")).as("p95"),
        at(expr("(99 * n + 99) div 100")).as("p99"),
        // rank windows at target ± 2 %, ceil via integral div, capped at n
        at(expr("(48 * n + 99) div 100")).as("lo50"),
        at(expr("least(n, (52 * n + 99) div 100)")).as("hi50"),
        at(expr("(93 * n + 99) div 100")).as("lo95"),
        at(expr("least(n, (97 * n + 99) div 100)")).as("hi95"),
        at(expr("(97 * n + 99) div 100")).as("lo99"),
        at(expr("n")).as("hi99")
      )
    val est = li
      .groupBy(col("l_returnflag"))
      .agg(
        graft.functions.GraftFunctions
          .graft_tdigest(col("v"), Seq(0.5, 0.95, 0.99))
          .as("qs")
      )
    exact
      .join(est, "l_returnflag")
      .select(
        col("l_returnflag"),
        col("n"),
        col("p50"),
        col("p95"),
        col("p99"),
        (col("qs")(0) >= col("lo50") && col("qs")(0) <= col("hi50")).as("ok_p50"),
        (col("qs")(1) >= col("lo95") && col("qs")(1) <= col("hi95")).as("ok_p95"),
        (col("qs")(2) >= col("lo99") && col("qs")(2) <= col("hi99")).as("ok_p99")
      )
  }

  /** Exact per-group median of `valCol` via the q46/q73 value-histogram
    * rank arithmetic: the window runs over the (group, value) histogram
    * (#distinct values rows), never over raw rows partitioned by a
    * low-cardinality key.
    */
  private def exactMedianOf(df: DataFrame, group: String, valCol: String, as: String): DataFrame = {
    val hist = df.groupBy(col(group), col(valCol)).agg(count(lit(1)).as("cnt"))
    val wCum = Window
      .partitionBy(col(group))
      .orderBy(col(valCol))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    hist
      .withColumn("cum", sum(col("cnt")).over(wCum))
      .withColumn("n", sum(col("cnt")).over(Window.partitionBy(col(group))))
      .groupBy(col(group))
      .agg(
        min(
          when(
            col("cum") - col("cnt") < expr("(n + 1) div 2") &&
              expr("(n + 1) div 2") <= col("cum"),
            col(valCol)
          )
        ).as(as)
      )
  }

  /** Robust outliers via MEDIAN ABSOLUTE DEVIATION — the q65 z-score's
    * robust twin: mean/std are themselves dragged by the outliers they
    * hunt, while median and MAD are 50 %-breakdown estimators. Exact
    * integer-cents arithmetic throughout (no doubles anywhere): the
    * histogram-median machinery runs twice (values, then absolute
    * deviations), each a #distinct-values histogram — so the usual
    * "exact median needs a sort" cost never appears, and the two
    * 5-row median tables come back by broadcast. Cut: dev > 3·MAD.
    */
  def q91MadOutliers(spark: SparkSession, dir: String): DataFrame = {
    val e = events(spark, dir)
      .filter(col("value").isNotNull)
      .select(col("event_type"), cents(col("value")).cast("long").as("c"))
    val med = exactMedianOf(e, "event_type", "c", "med")
    val d = e
      .join(med, "event_type")
      .withColumn("dev", abs(col("c") - col("med")))
    val mad = exactMedianOf(
      d.select(col("event_type"), col("dev")),
      "event_type",
      "dev",
      "mad"
    )
    d.join(mad, "event_type")
      .groupBy(col("event_type"))
      .agg(
        count(lit(1)).as("n"),
        max(col("med")).as("med_cents"),
        max(col("mad")).as("mad_cents"),
        sum(when(col("dev") > col("mad") * 3, 1L).otherwise(0L)).as("n_outliers")
      )
  }

  /** Equi-depth quantile binning (decile discretization) — the
    * FEATURIZATION twin of the quantile reports: every row is labeled
    * with its per-group decile, the standard preprocessing for
    * rank-normalized features and calibration buckets. Bin boundaries
    * come from the same #distinct-values histogram as q46/q73 (never a
    * per-group row sort); the (group, value) → bin map is then joined
    * back to the rows — ties share a bin by construction, and the bin
    * index `((cum−1)·10 div n) + 1` is pure integer arithmetic.
    */
  def q94QuantileBins(spark: SparkSession, dir: String): DataFrame = {
    val e = events(spark, dir)
      .filter(col("value").isNotNull)
      .select(col("event_id"), col("event_type"), cents(col("value")).cast("long").as("c"))
    val hist = e.groupBy(col("event_type"), col("c")).agg(count(lit(1)).as("cnt"))
    val wCum = Window
      .partitionBy(col("event_type"))
      .orderBy(col("c"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val bins = hist
      .withColumn("cum", sum(col("cnt")).over(wCum))
      .withColumn("n", sum(col("cnt")).over(Window.partitionBy(col("event_type"))))
      .select(
        col("event_type"),
        col("c"),
        (expr("(cum - 1) * 10 div n") + 1).as("bin")
      )
    e.join(bins, Seq("event_type", "c"))
      .select(col("event_id"), col("event_type"), col("c"), col("bin"))
  }

  /** Aggregate statistics incl. distinct-count per group. */
  def q16AggStats(spark: SparkSession, dir: String): DataFrame =
    events(spark, dir)
      .groupBy(col("event_type"))
      .agg(
        count(lit(1)).as("n"),
        countDistinct(col("user_id")).as("n_users"),
        min(col("value")).as("min_value"),
        max(col("value")).as("max_value"),
        sum(cents(col("value"))).as("sum_value_cents")
      )

  /** Schema-drift ingestion, oracle-checked end to end
    * ([[graft.sources.Drift]]): three "generator versions" of the
    * documents corpus are written to scratch parquet batches with
    * drifting schemas — v1 (doc_id % 3 == 0) narrow with INT ids and
    * char counts and NO source column; v2 (== 1) widened to BIGINT
    * with source; v3 (== 2) adds a derived `quality` double plus a
    * `crawler` column the target drops — then read back through
    * `Drift.readConformed` (one scan per distinct schema, lossless
    * upcasts, null-fill for predated columns) and aggregated per lang.
    * The DuckDB oracle replays the drift rules directly over
    * `documents`, so null-fill (`with_source` counts only v2/v3 rows),
    * quality scoping (v3 only), and id widening are all hash-checked.
    * Money-pattern integer cents keep the quality sum engine-exact.
    * Demo INT ids are safe at test SFs (require-guarded); the OPERATOR
    * never narrows — conform rejects lossy casts.
    */
  def q109SchemaDrift(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.types._
    val d = t(spark, dir, "documents")
    val root = java.nio.file.Files.createTempDirectory("graft-q109")
    val rows =
      try {
        d.agg(max(col("doc_id"))).collect().headOption.foreach { r =>
          require(r.isNullAt(0) || r.getLong(0) <= Int.MaxValue, "demo INT batch needs int-range ids")
        }
        d.filter(col("doc_id") % 3 === 0)
          .select(
            col("doc_id").cast("int").as("doc_id"),
            col("lang"),
            col("n_chars").cast("int").as("n_chars")
          )
          .write
          .parquet(root.resolve("batch=0").toString)
        d.filter(col("doc_id") % 3 === 1)
          .select(col("doc_id"), col("lang"), col("source"), col("n_chars"))
          .write
          .parquet(root.resolve("batch=1").toString)
        d.filter(col("doc_id") % 3 === 2)
          .select(
            col("doc_id"),
            col("lang"),
            col("source"),
            col("n_chars"),
            (col("n_chars") / lit(100.0)).as("quality"),
            lit("v3").as("crawler")
          )
          .write
          .parquet(root.resolve("batch=2").toString)
        val target = StructType(
          Seq(
            StructField("doc_id", LongType),
            StructField("lang", StringType),
            StructField("source", StringType),
            StructField("n_chars", LongType),
            StructField("quality", DoubleType)
          )
        )
        // Demo-query materialization (bounded: one row per lang) —
        // results must outlive the scratch dir; the OPERATOR returns a
        // DataFrame and never collects.
        graft.sources.Drift
          .readConformed(spark, root.toString, target)
          .groupBy(col("lang"))
          .agg(
            count(lit(1)).as("n_docs"),
            sum(col("n_chars")).as("sum_chars"),
            sum(floor(col("quality") * 100)).cast("long").as("q_cents"),
            count(col("source")).as("with_source"),
            min(col("doc_id")).as("id_lo"),
            max(col("doc_id")).as("id_hi")
          )
          .collect()
          .toIndexedSeq
          .map { r =>
            (
              r.getString(0),
              r.getLong(1),
              r.getLong(2),
              if (r.isNullAt(3)) None else Some(r.getLong(3)),
              r.getLong(4),
              r.getLong(5),
              r.getLong(6)
            )
          }
      } finally org.apache.commons.io.FileUtils.deleteDirectory(root.toFile)
    import spark.implicits._
    rows.toDF("lang", "n_docs", "sum_chars", "q_cents", "with_source", "id_lo", "id_hi")
  }
}
