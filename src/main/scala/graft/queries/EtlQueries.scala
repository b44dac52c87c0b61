package graft
package queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.etl.{Cleanse, DateDim, Reports, Star}
import graft.ops.Exact

/** Relational and ETL queries: the TPC-H-shaped aggregates, joins and
  * reports of the reference medallion (bronze → silver → gold →
  * platinum), generated date dims, SCD, funnels, windows and
  * exact-money rollups — [[graft.etl]] and [[graft.ops.Exact]]. */
object EtlQueries {
  import Tables._
  import Builds.bucketedTables

  private def centsSum(c: Column) = Exact.sumMoney(c)

  /** The q68 pivot's explicit value set — ONE list consumed by both
    * the Spark query and its oracle builder, so the two column sets
    * cannot drift. */
  private val orderPriorities =
    Seq("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")

  /** Lineitem with the silver-style derived columns used downstream. */
  private def cleansedLineitem(s: SparkSession, dir: String): DataFrame =
    Cleanse.derive(
      lineitem(s, dir),
      "disc_price" -> (col("l_extendedprice") * (lit(1) - col("l_discount"))),
      "charge" -> (col("l_extendedprice") * (lit(1) - col("l_discount"))
        * (lit(1) + col("l_tax"))))

  /** Seconds-since-epoch for TIMESTAMP or TIMESTAMP_NTZ columns (NTZ
    * interpreted in the UTC session zone, matching DuckDB's naive ts). */
  private def epochSec(c: Column): Column = unix_timestamp(c.cast("timestamp"))

  /** Shared gold-style fact: lineitem ⋈ orders ⋈ customer with derived
    * calendar attributes (reference fact build, gold.py:256-330). */
  private def factBase(s: SparkSession, dir: String): DataFrame = {
    val li = cleansedLineitem(s, dir)
    val o = orders(s, dir)
    val c = customer(s, dir)
    li.join(o, li("l_orderkey") === o("o_orderkey"), "inner")
      .join(c, o("o_custkey") === c("c_custkey"), "inner")
      .withColumn("year_o", year(col("o_orderdate")))
      .withColumn("month_o", month(col("o_orderdate")))
  }

  private val discPrice = "(l_extendedprice*(1-l_discount))"
  private val charge    = "(l_extendedprice*(1-l_discount)*(1+l_tax))"

  val specs: Seq[QuerySpec] = Seq(
    // A3/A4-class: grouped aggregation with deterministic sums & means
    // (reference report shape, platinum.py:88-112).
    QuerySpec("q01_pricing_summary")((s, dir) => {
      cleansedLineitem(s, dir)
        .filter(col("l_shipdate") <= lit("1998-09-02").cast("timestamp"))
        .groupBy(col("l_returnflag"), col("l_linestatus"))
        .agg(
          Exact.sumIntegral(col("l_quantity")).as("sum_qty"),
          centsSum(col("l_extendedprice")).as("sum_base_price"),
          centsSum(col("disc_price")).as("sum_disc_price"),
          centsSum(col("charge")).as("sum_charge"),
          Exact.avgIntegral(col("l_quantity")).as("avg_qty"),
          Exact.avgMoney(col("l_extendedprice")).as("avg_price"),
          (sum(round(col("l_discount") * 10000)) / lit(10000.0) / count(lit(1)))
            .as("avg_disc"),
          count(lit(1)).as("count_order"))
    })(
      s"""SELECT l_returnflag, l_linestatus,
         | sum(l_quantity) AS sum_qty,
         | ${Exact.sql.sumMoney("l_extendedprice")} AS sum_base_price,
         | ${Exact.sql.sumMoney(discPrice)} AS sum_disc_price,
         | ${Exact.sql.sumMoney(charge)} AS sum_charge,
         | ${Exact.sql.avgIntegral("l_quantity")} AS avg_qty,
         | ${Exact.sql.avgMoney("l_extendedprice")} AS avg_price,
         | sum(round(l_discount*10000))/10000.0/count(*) AS avg_disc,
         | count(*) AS count_order
         |FROM lineitem WHERE l_shipdate <= TIMESTAMP '1998-09-02'
         |GROUP BY l_returnflag, l_linestatus""".stripMargin),

    // P1/P5/P8/P9-class: filter + projection + arithmetic + cast
    // (reference silver cleanse, silver.py:67-85).
    QuerySpec("q02_filter_project")((s, dir) => {
      lineitem(s, dir)
        .filter(col("l_discount") >= 0.05 && col("l_quantity") < 25)
        .select(
          col("l_orderkey"), col("l_linenumber"),
          (round(col("l_extendedprice") * col("l_discount") * 100) / lit(100.0))
            .as("disc_amount"),
          col("l_quantity").cast("int").as("qty_int"))
    })(
      """SELECT l_orderkey, l_linenumber,
        | round(l_extendedprice*l_discount*100)/100.0 AS disc_amount,
        | CAST(l_quantity AS INTEGER) AS qty_int
        |FROM lineitem WHERE l_discount >= 0.05 AND l_quantity < 25""".stripMargin),

    // J1/J6-class: multi-way equi-join with broadcast dims + grouped agg
    // (reference report joins, platinum.py:132-142).
    QuerySpec("q03_region_revenue")((s, dir) => {
      val o = orders(s, dir); val c = customer(s, dir)
      val n = nation(s, dir).withColumnRenamed("n_nationkey", "c_nationkey")
      val r = region(s, dir).withColumnRenamed("r_regionkey", "n_regionkey")
      val joined = o.join(c, o("o_custkey") === c("c_custkey"), "inner")
      Star.joinDim(Star.joinDim(joined, n, Seq("c_nationkey")), r, Seq("n_regionkey"))
        .groupBy(col("r_name"))
        .agg(count(lit(1)).as("n_orders"),
          centsSum(col("o_totalprice")).as("revenue"))
    })(
      s"""SELECT r_name, count(*) AS n_orders,
         | ${Exact.sql.sumMoney("o_totalprice")} AS revenue
         |FROM orders
         |JOIN customer ON o_custkey = c_custkey
         |JOIN nation ON c_nationkey = n_nationkey
         |JOIN region ON n_regionkey = r_regionkey
         |GROUP BY r_name""".stripMargin),

    // F9-class: generated calendar dimension (replaces the reference's
    // MySQL stored procedure, create_datamart.sql:43-91).
    QuerySpec("q04_date_dim")((s, _) => DateDim.build(s, "1995-01-01", "1996-12-31"))(DateDim.sql("1995-01-01", "1996-12-31")),

    // J3-class: new-key detection as LEFT ANTI (reference right-join +
    // isNull, gold.py:93-94).
    QuerySpec("q05_anti_join_new_keys")((s, dir) => {
      val c = customer(s, dir)
      val o = orders(s, dir).filter(col("o_orderstatus") === "F")
      c.join(o, c("c_custkey") === o("o_custkey"), "left_anti")
        .select(col("c_custkey"), col("c_name"), col("c_mktsegment"))
    })(
      """SELECT c_custkey, c_name, c_mktsegment FROM customer c
        |WHERE NOT EXISTS (SELECT 1 FROM orders o
        |  WHERE o.o_custkey = c.c_custkey AND o.o_orderstatus = 'F')""".stripMargin),

    // A1/P6-class: scalar watermark + incremental filter (reference
    // batch-incremental load, gold.py:56-65,278).
    QuerySpec("q06_watermark_incremental")((s, dir) => {
      val o = orders(s, dir)
      val wm = Star.watermark(o.filter(col("o_orderstatus") === "F"), "o_orderdate")
      Star.newerThan(o, "o_orderdate", wm)
        .groupBy(col("o_orderpriority"))
        .agg(count(lit(1)).as("n_orders"),
          centsSum(col("o_totalprice")).as("sum_total"))
    })(
      s"""SELECT o_orderpriority, count(*) AS n_orders,
         | ${Exact.sql.sumMoney("o_totalprice")} AS sum_total
         |FROM orders
         |WHERE o_orderdate > (SELECT max(o_orderdate) FROM orders
         |                     WHERE o_orderstatus = 'F')
         |GROUP BY o_orderpriority""".stripMargin),

    // U1-class: schema-aligned union + distinct (fixes reference defect
    // R1 — positional union, gold.py:273).
    QuerySpec("q07_union_dedup")((s, dir) => {
      Cleanse.dedup(Cleanse.unionConformed(Seq(
        lineitem(s, dir).select(col("l_suppkey").as("suppkey")),
        supplier(s, dir).select(col("s_suppkey").as("suppkey")))))
    })(
      """SELECT DISTINCT suppkey FROM (
        | SELECT l_suppkey AS suppkey FROM lineitem
        | UNION ALL SELECT s_suppkey AS suppkey FROM supplier)""".stripMargin),

    // O1-class: deterministic top-k (sort + limit with unique tiebreak).
    QuerySpec("q08_top_customers")((s, dir) => {
      customer(s, dir)
        .orderBy(col("c_acctbal").desc, col("c_custkey").asc)
        .limit(10)
        .select(col("c_custkey"), col("c_name"), col("c_acctbal"))
    })(
      """SELECT c_custkey, c_name, c_acctbal FROM customer
        |ORDER BY c_acctbal DESC, c_custkey LIMIT 10""".stripMargin),

    // E2-class: the gold fact build end-to-end — silver cleanse (dedup +
    // required keys) → join orders → two composite date-dim joins →
    // surrogate keys (gold.py:256-330, defects R1/R2 fixed).
    QuerySpec("q26_fact_build")((s, dir) => {
      val dd = DateDim.build(s, "1995-01-01", "2001-12-31")
      // dedupByFingerprint ≡ dropDuplicates() but the shuffle keys on a
      // 16-byte row hash, not the full row width — the 100 TB form
      val li = Cleanse.derive(
        Cleanse.requireNonNull(Cleanse.dedupByFingerprint(lineitem(s, dir)),
          Seq("l_orderkey", "l_shipdate")),
        "disc_price" -> (col("l_extendedprice") * (lit(1) - col("l_discount"))))
      val o = orders(s, dir)
      Star.joinDateDim(
        Star.joinDateDim(
          li.join(o, li("l_orderkey") === o("o_orderkey"), "inner"),
          dd, "o_orderdate", "date_o_id"),
        dd, "l_shipdate", "date_s_id")
        .select(col("l_orderkey"), col("l_linenumber"), col("l_quantity"),
          col("disc_price"), col("o_orderpriority"),
          col("date_o_id"), col("date_s_id"))
    })(
      s"""WITH dd AS (${DateDim.sql("1995-01-01", "2001-12-31")}),
         |li AS (SELECT DISTINCT * FROM lineitem)
         |SELECT l_orderkey, l_linenumber, l_quantity,
         |  l_extendedprice*(1-l_discount) AS disc_price, o_orderpriority,
         |  d_o.dateID AS date_o_id, d_s.dateID AS date_s_id
         |FROM li
         |JOIN orders ON l_orderkey = o_orderkey
         |JOIN dd d_o ON d_o.date = CAST(o_orderdate AS DATE)
         |JOIN dd d_s ON d_s.date = CAST(l_shipdate AS DATE)
         |WHERE l_orderkey IS NOT NULL AND l_shipdate IS NOT NULL""".stripMargin),

    // E3-class: the platinum monthly report shape — date-dim join +
    // multi-key groupBy with avg+sum per measure + count
    // (platinum.py:69-154).
    QuerySpec("q09_monthly_report")((s, dir) => {
      val fact = factBase(s, dir)
      Reports.report(fact,
        Seq(col("year_o"), col("month_o"), col("l_returnflag"),
          col("o_orderpriority"), col("c_mktsegment")),
        Seq(
          Reports.Measure("quantity", col("l_quantity"), Reports.Integral),
          Reports.Measure("price", col("l_extendedprice"), Reports.Money),
          Reports.Measure("disc_price", col("disc_price"), Reports.Money),
          Reports.Measure("charge", col("charge"), Reports.Money),
          Reports.Measure("totalprice", col("o_totalprice"), Reports.Money)))
    })(
      s"""SELECT CAST(year(o_orderdate) AS INTEGER) AS year_o,
         | CAST(month(o_orderdate) AS INTEGER) AS month_o,
         | l_returnflag, o_orderpriority, c_mktsegment,
         | ${Reports.sqlAggs(Seq(
             ("quantity", "l_quantity", Reports.Integral),
             ("price", "l_extendedprice", Reports.Money),
             ("disc_price", discPrice, Reports.Money),
             ("charge", charge, Reports.Money),
             ("totalprice", "o_totalprice", Reports.Money)))}
         |FROM lineitem
         |JOIN orders ON l_orderkey = o_orderkey
         |JOIN customer ON o_custkey = c_custkey
         |GROUP BY 1, 2, 3, 4, 5""".stripMargin),

    // E3-class: weekly report twin — keys swap month for ISO week +
    // day name (platinum.py:166-252).
    QuerySpec("q10_weekly_report")((s, dir) => {
      val fact = factBase(s, dir)
        .withColumn("week_o", weekofyear(col("o_orderdate")))
        .withColumn("day_name_o", date_format(col("o_orderdate"), "EEEE"))
      Reports.report(fact,
        Seq(col("year_o"), col("week_o"), col("day_name_o"),
          col("l_returnflag"), col("c_mktsegment")),
        Seq(
          Reports.Measure("quantity", col("l_quantity"), Reports.Integral),
          Reports.Measure("price", col("l_extendedprice"), Reports.Money)))
    })(
      s"""SELECT CAST(year(o_orderdate) AS INTEGER) AS year_o,
         | CAST(weekofyear(o_orderdate) AS INTEGER) AS week_o,
         | dayname(o_orderdate) AS day_name_o,
         | l_returnflag, c_mktsegment,
         | ${Reports.sqlAggs(Seq(
             ("quantity", "l_quantity", Reports.Integral),
             ("price", "l_extendedprice", Reports.Money)))}
         |FROM lineitem
         |JOIN orders ON l_orderkey = o_orderkey
         |JOIN customer ON o_custkey = c_custkey
         |GROUP BY 1, 2, 3, 4, 5""".stripMargin),

    // Streaming-shaped batch: hourly tumbling windows over events
    // (streaming twin: graft.streaming.EventStreams.hourlyAgg).
    QuerySpec("q16_event_windows")((s, dir) => {
      events(s, dir)
        .groupBy(window(col("ts"), "1 hour"), col("event_type"))
        .agg(count(lit(1)).as("n_events"),
          (sum(round(col("value") * 100)) / 100.0).as("sum_value"))
        .select(col("window.start").as("window_start"), col("event_type"),
          col("n_events"), col("sum_value"))
    })(
      """SELECT time_bucket(INTERVAL '1 hour', ts) AS window_start,
        | event_type, count(*) AS n_events,
        | sum(round(value*100))/100.0 AS sum_value
        |FROM events GROUP BY 1, 2""".stripMargin),

    // Gap-based sessionization via window functions (streaming twin:
    // EventStreams.sessionize with flatMapGroupsWithState).
    QuerySpec("q17_sessionize")((s, dir) => {
      val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
      val gap = epochSec(col("ts")) - epochSec(lag(col("ts"), 1).over(w))
      val tagged = events(s, dir)
        .withColumn("new_sess", when(gap.isNull || gap > 1800, 1).otherwise(0))
        .withColumn("session_id", sum(col("new_sess"))
          .over(w.rowsBetween(Window.unboundedPreceding, 0)))
      tagged.groupBy(col("user_id"), col("session_id"))
        .agg(count(lit(1)).as("n_events"),
          min(col("ts")).as("session_start"), max(col("ts")).as("session_end"))
        .withColumn("duration_sec",
          epochSec(col("session_end")) - epochSec(col("session_start")))
    })(
      """WITH tagged AS (
        |  SELECT user_id, ts, event_id,
        |    CASE WHEN lag(ts) OVER w IS NULL
        |      OR datediff('second', lag(ts) OVER w, ts) > 1800
        |      THEN 1 ELSE 0 END AS new_sess
        |  FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
        |sess AS (
        |  SELECT user_id, ts,
        |    CAST(sum(new_sess) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |      ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_id
        |  FROM tagged)
        |SELECT user_id, session_id, count(*) AS n_events,
        |  min(ts) AS session_start, max(ts) AS session_end,
        |  datediff('second', min(ts), max(ts)) AS duration_sec
        |FROM sess GROUP BY user_id, session_id""".stripMargin),

    // SCD2 dimension history from a change log (etl.Scd.history):
    // per-user event_type state periods — no-op re-observations
    // collapse (null-safe), latest period open. One shuffle on the
    // high-cardinality key feeds both window functions (plan-pinned
    // in ScdSpec); incremental maintenance (Scd.applyChanges) never
    // reshuffles closed periods and is spec-proven equivalent to the
    // full rebuild.
    QuerySpec("q54_scd2_history")((s, dir) =>
      graft.etl.Scd.history(
        events(s, dir), keyCols = Seq("user_id"), tsCol = "ts",
        attrCols = Seq("event_type"), tieCols = Seq("event_id")))(
      """WITH flagged AS (
        |  SELECT user_id, event_type, ts, event_id,
        |    lag(event_type) OVER w AS prev_type,
        |    (lag(ts) OVER w IS NULL) AS first_obs
        |  FROM events
        |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
        |changes AS (
        |  SELECT * FROM flagged
        |  WHERE first_obs OR prev_type IS DISTINCT FROM event_type)
        |SELECT user_id, event_type,
        |  ts AS effective_from,
        |  lead(ts) OVER w2 AS effective_to,
        |  (lead(ts) OVER w2 IS NULL) AS is_current
        |FROM changes
        |WINDOW w2 AS (PARTITION BY user_id ORDER BY ts, event_id)""".stripMargin),

    // PIVOT: order counts and exact revenue per (year × priority) —
    // the wide reshaping surface. Pivot values are declared explicitly
    // (the two-pass value-discovery form is a driver round-trip a
    // 100 TB plan should never pay); the aggregate underneath is one
    // shuffle on the group key like any other groupBy.
    QuerySpec("q68_pivot")((s, dir) =>
      orders(s, dir)
        .groupBy(year(col("o_orderdate")).as("o_year"))
        .pivot("o_orderpriority", orderPriorities)
        .agg(count(lit(1)).as("n"),
          Exact.sumMoney(col("o_totalprice")).as("rev")))({
      // Manual CASE pivot; nullif(·, 0) reproduces Spark's NULL for an
      // empty (year × priority) cell exactly.
      val cells = orderPriorities.map { p =>
        val cond = s"CASE WHEN o_orderpriority = '$p' THEN o_totalprice END"
        s"""nullif(count(CASE WHEN o_orderpriority = '$p' THEN 1 END), 0)
           |    AS "${p}_n",
           |  ${Exact.sql.sumMoney(cond)} AS "${p}_rev"""".stripMargin
      }.mkString(",\n  ")
      s"""SELECT CAST(year(o_orderdate) AS INTEGER) AS o_year,
         |  $cells
         |FROM orders GROUP BY 1""".stripMargin
    }),

    // UNPIVOT (melt): the long form of the same per-year measures —
    // narrow (metric, value) rows for metric stores and chart feeds.
    // unpivot is a Generate-style row expansion, no shuffle beyond
    // the aggregate that feeds it.
    QuerySpec("q69_unpivot")((s, dir) => {
      val wide = orders(s, dir)
        .groupBy(year(col("o_orderdate")).as("o_year"))
        .agg(count(lit(1)).cast("double").as("n_orders"),
          Exact.sumMoney(col("o_totalprice")).as("revenue"),
          Exact.avgMoney(col("o_totalprice")).as("avg_price"))
      wide.unpivot(Array(col("o_year")),
        Array(col("n_orders"), col("revenue"), col("avg_price")),
        "metric", "value")
    })(
      // UNION-ALL long form of the same measures.
      s"""WITH w AS (SELECT CAST(year(o_orderdate) AS INTEGER) AS o_year,
         |  CAST(count(*) AS DOUBLE) AS n_orders,
         |  ${Exact.sql.sumMoney("o_totalprice")} AS revenue,
         |  ${Exact.sql.avgMoney("o_totalprice")} AS avg_price
         |FROM orders GROUP BY 1)
         |SELECT o_year, 'n_orders' AS metric, n_orders AS value FROM w
         |UNION ALL SELECT o_year, 'revenue', revenue FROM w
         |UNION ALL SELECT o_year, 'avg_price', avg_price FROM w""".stripMargin),

    // Stickiness (etl.Funnels.stickiness): DAU/WAU per observed day
    // in fixed point — the daily engagement ratio; two rollingActive
    // passes joined on the day, one IEEE division of exact longs.
    QuerySpec("q165_stickiness")((s, dir) =>
      graft.etl.Funnels.stickiness(events(s, dir)))(
      // q161's window-end explode for WAU, a direct per-day distinct
      // for DAU, the same fixed-point ratio.
      """WITH act AS (SELECT DISTINCT CAST(ts AS DATE) AS uday, user_id
        |  FROM events),
        |obs AS (SELECT DISTINCT uday AS day FROM act),
        |d AS (SELECT uday AS day, count(DISTINCT user_id) AS dau
        |  FROM act GROUP BY 1),
        |ex AS (SELECT CAST(unnest(generate_series(CAST(uday AS TIMESTAMP),
        |    CAST(uday AS TIMESTAMP) + INTERVAL 6 DAY, INTERVAL 1 DAY))
        |    AS DATE) AS day, user_id FROM act),
        |w AS (SELECT ex.day, count(DISTINCT user_id) AS wau
        |  FROM ex JOIN obs ON obs.day = ex.day GROUP BY 1)
        |SELECT d.day, d.dau, w.wau,
        |  CAST(round(CAST(d.dau AS DOUBLE) / CAST(w.wau AS DOUBLE)
        |    * 16384.0) AS BIGINT) AS stickiness_code
        |FROM d JOIN w ON w.day = d.day""".stripMargin),

    // Rolling 7-day active users (etl.Funnels.rollingActive): WAU per
    // observed day — each (user, day) fact explodes to the <= 7
    // window ends it feeds (fixed map-side blowup), one distinct
    // count; no range join, no window function.
    QuerySpec("q161_rolling_active")((s, dir) =>
      graft.etl.Funnels.rollingActive(events(s, dir)))(
      // Each (user, active-day) fact exploded to its window ends,
      // restricted to observed days, one distinct count.
      """WITH act AS (SELECT DISTINCT CAST(ts AS DATE) AS uday, user_id
        |  FROM events),
        |obs AS (SELECT DISTINCT uday AS day FROM act),
        |ex AS (SELECT CAST(unnest(generate_series(CAST(uday AS TIMESTAMP),
        |    CAST(uday AS TIMESTAMP) + INTERVAL 6 DAY, INTERVAL 1 DAY))
        |    AS DATE) AS day, user_id
        |  FROM act)
        |SELECT ex.day, count(DISTINCT user_id) AS active_users
        |FROM ex JOIN obs ON obs.day = ex.day
        |GROUP BY 1""".stripMargin),

    // Bucketed co-located join (catalog.Bucketed): orders and
    // customer stored pre-hashed on the join key, so the repeated
    // fact ⋈ dim pays ZERO exchange on either side — the persisted
    // form of shuffle avoidance when no side is broadcastable
    // (BucketedJoinSpec pins the exchange-free plan; this query
    // hash-gates that the layout changes no answer).
    QuerySpec("q171_bucketed_join")((s, dir) => {
      val (ot, ct) = bucketedTables(s, dir)
      val o = graft.catalog.Bucketed.table(s, ot)
      val c = graft.catalog.Bucketed.table(s, ct)
      o.join(c, o("o_custkey") === c("c_custkey"))
        .groupBy(col("c_mktsegment"))
        .agg(count(lit(1)).as("n_orders"),
          centsSum(col("o_totalprice")).as("sum_price"))
    })(
      // The bucketed layout must change no answer: the oracle is the
      // plain join over the source tables.
      s"""SELECT c_mktsegment, count(*) AS n_orders,
         |  ${Exact.sql.sumMoney("o_totalprice")} AS sum_price
         |FROM orders JOIN customer ON o_custkey = c_custkey
         |GROUP BY 1""".stripMargin),

    // Materialized-view maintenance (ops.IncAgg): the per-type
    // (n, sum, min, max) report maintained as mergeable STATE —
    // fold the new batch's state into the standing state instead of
    // rescanning history; the oracle is the recompute-from-scratch
    // the merge provably equals.
    QuerySpec("q173_agg_state_merge")((s, dir) => {
      val ev = events(s, dir).select(col("event_type"),
        dayofmonth(col("ts")).as("d"),
        Exact.cents(col("value")).as("cents"))
      val hist = ev.filter(col("d") <= 15)
      val batch = ev.filter(col("d") > 15)
      graft.ops.IncAgg.merge(Seq("event_type"),
        Seq(graft.ops.IncAgg.state(hist, Seq("event_type"), "cents"),
          graft.ops.IncAgg.state(batch, Seq("event_type"), "cents")))
    })(
      // merge(state(hist), state(batch)) must equal the from-scratch
      // aggregate — the oracle IS that from-scratch side.
      """SELECT event_type, CAST(count(*) AS BIGINT) AS n,
        |  CAST(sum(CAST(round(value*100) AS BIGINT)) AS BIGINT) AS sum_v,
        |  min(CAST(round(value*100) AS BIGINT)) AS min_v,
        |  max(CAST(round(value*100) AS BIGINT)) AS max_v
        |FROM events GROUP BY 1""".stripMargin),

    // SCD2 point-in-time read (etl.Scd.asOf over Scd.history): each
    // user's state row valid at the frozen instant — "what did the
    // dimension say when the model trained?". Pure pushed-down
    // predicate over the history, no window at read time.
    QuerySpec("q175_scd_asof")((s, dir) => {
      val hist = graft.etl.Scd.history(
        events(s, dir).select(col("user_id"), col("ts"),
          col("event_type"), col("event_id")),
        Seq("user_id"), "ts", Seq("event_type"), Seq("event_id"))
      graft.etl.Scd.asOf(hist,
          lit("2024-01-15 00:00:00").cast("timestamp_ntz"))
        .select(col("user_id"), col("event_type"), col("effective_from"))
    })(
      // The SCD2 period build replayed with lag/lead (event_id is the
      // tie for colliding timestamps, same as the Spark order), then
      // the covering-period predicate at the frozen instant.
      """WITH o AS (SELECT user_id, event_id, ts, event_type,
        |  lag(event_type) OVER (PARTITION BY user_id
        |    ORDER BY ts, event_id) AS prev FROM events),
        |ch AS (SELECT user_id, event_id, ts, event_type FROM o
        |  WHERE prev IS NULL OR prev <> event_type),
        |v AS (SELECT user_id, event_type, ts AS effective_from,
        |  lead(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
        |    AS effective_to FROM ch)
        |SELECT user_id, event_type, effective_from FROM v
        |WHERE effective_from <= TIMESTAMP '2024-01-15 00:00:00'
        |  AND (effective_to IS NULL
        |    OR effective_to > TIMESTAMP '2024-01-15 00:00:00')""".stripMargin),

    // CUBE + grouping_id (q32's rollup widened to the full lattice):
    // every (year, status) subtotal plane in ONE pass — Spark's
    // Expand — with the standard bitmask disambiguating "NULL because
    // aggregated away" from a NULL data value; the warehouse
    // subtotal-report shape.
    QuerySpec("q183_cube_report")((s, dir) =>
      orders(s, dir)
        .withColumn("year_o", year(col("o_orderdate")))
        .cube(col("year_o"), col("o_orderstatus"))
        .agg(grouping_id().as("gid"),
          count(lit(1)).as("n_orders"),
          Exact.sumMoney(col("o_totalprice")).as("sum_total"))
        .select(col("year_o"), col("o_orderstatus"), col("gid"),
          col("n_orders"), col("sum_total")))(
      // The full lattice + the standard GROUPING bitmask (first
      // grouping column = high bit in both engines; DuckDB's GROUPING
      // needs plain grouping COLUMNS, hence the CTE).
      s"""WITH o AS (SELECT CAST(year(o_orderdate) AS INTEGER)
         |    AS year_o, o_orderstatus, o_totalprice FROM orders)
         |SELECT year_o, o_orderstatus,
         | CAST(GROUPING(year_o, o_orderstatus) AS BIGINT) AS gid,
         | count(*) AS n_orders,
         | ${Exact.sql.sumMoney("o_totalprice")} AS sum_total
         |FROM o GROUP BY CUBE (year_o, o_orderstatus)""".stripMargin),

    // Native session windows (functions.session_window): the
    // state-store-capable form of q17's gap sessionization — the SAME
    // 30-minute gap law, but as a session-merging aggregate with no
    // per-user sort window, which is what the streaming path runs.
    QuerySpec("q177_session_window")((s, dir) =>
      events(s, dir)
        .groupBy(col("user_id"), session_window(col("ts"), "30 minutes"))
        .agg(count(lit(1)).as("n_events"))
        .select(col("user_id"),
          col("session_window.start").as("session_start"),
          col("session_window.end").as("session_end"),
          col("n_events")))(
      // Gaps-and-islands with the session_window law: a gap STRICTLY
      // longer than 30 min starts a new session (an event exactly AT
      // the previous end still merges — SessionWindowSpec pins this
      // boundary); end = last + gap.
      """WITH o AS (SELECT user_id, ts,
        |  CASE WHEN lag(ts) OVER (PARTITION BY user_id ORDER BY ts)
        |      IS NULL
        |    OR ts - lag(ts) OVER (PARTITION BY user_id ORDER BY ts)
        |      > INTERVAL 30 MINUTE THEN 1 ELSE 0 END AS brk
        |  FROM events),
        |g AS (SELECT user_id, ts, sum(brk) OVER (PARTITION BY user_id
        |  ORDER BY ts ROWS UNBOUNDED PRECEDING) AS sid FROM o),
        |s AS (SELECT user_id, sid, min(ts) AS session_start,
        |  max(ts) + INTERVAL 30 MINUTE AS session_end,
        |  CAST(count(*) AS BIGINT) AS n_events
        |  FROM g GROUP BY 1, 2)
        |SELECT user_id, session_start, session_end, n_events
        |FROM s""".stripMargin),

    // Strictly-ordered conversion funnel (etl.Funnels.funnel): per
    // user, how deep the view -> click -> purchase chain got and when
    // — conditional-min aggregates per stage, no stream-wide window.
    QuerySpec("q121_funnel")((s, dir) =>
      graft.etl.Funnels.funnel(events(s, dir)))(
      // Stage minima as chained conditional aggregates — the strict
      // ordering (each stage strictly after the previous user minimum)
      // replayed with the same joins.
      """WITH u AS (SELECT DISTINCT user_id FROM events),
        |s1 AS (SELECT user_id, min(ts) AS t1 FROM events
        |  WHERE event_type = 'view' GROUP BY 1),
        |s2 AS (SELECT e.user_id, min(e.ts) AS t2 FROM events e
        |  JOIN s1 ON s1.user_id = e.user_id
        |  WHERE e.event_type = 'click' AND e.ts > s1.t1 GROUP BY 1),
        |s3 AS (SELECT e.user_id, min(e.ts) AS t3 FROM events e
        |  JOIN s2 ON s2.user_id = e.user_id
        |  WHERE e.event_type = 'purchase' AND e.ts > s2.t2 GROUP BY 1)
        |SELECT u.user_id,
        |  CAST(CASE WHEN t3 IS NOT NULL THEN 3
        |    WHEN t2 IS NOT NULL THEN 2
        |    WHEN t1 IS NOT NULL THEN 1 ELSE 0 END AS INTEGER) AS stage,
        |  s1.t1 AS first_view, s2.t2 AS first_click,
        |  s3.t3 AS first_purchase
        |FROM u LEFT JOIN s1 USING (user_id)
        |  LEFT JOIN s2 USING (user_id)
        |  LEFT JOIN s3 USING (user_id)""".stripMargin),

    // Weekly cohort retention (etl.Funnels.cohortRetention): first-
    // seen ISO week x whole-week offset, distinct active users per
    // cell — the standing retention table.
    QuerySpec("q122_cohorts")((s, dir) =>
      graft.etl.Funnels.cohortRetention(events(s, dir)))(
      // ISO-Monday week buckets in both engines; offsets are integer
      // day-diffs // 7 (nonnegative by construction, so floor == the
      // Spark cast-truncation).
      """WITH fs AS (SELECT user_id,
        |    CAST(date_trunc('week', min(ts)) AS DATE) AS cohort_week
        |  FROM events GROUP BY 1),
        |act AS (SELECT e.user_id, fs.cohort_week,
        |    CAST(date_diff('day', fs.cohort_week, CAST(e.ts AS DATE)) // 7
        |      AS INTEGER) AS week_offset
        |  FROM events e JOIN fs ON fs.user_id = e.user_id)
        |SELECT cohort_week, week_offset,
        |  CAST(count(DISTINCT user_id) AS BIGINT) AS n_active
        |FROM act GROUP BY 1, 2""".stripMargin),

    // Set-operation semantics (INTERSECT/EXCEPT classification), computed
    // as ONE scan + ONE shuffle: groupBy(key).agg(max(predicate)) derives
    // membership in the filtered set, replacing the naive two-scan
    // INTERSECT + EXCEPT pair (two wide distinct-shuffles). The oracle
    // keeps the literal set-op formulation to prove equivalence.
    QuerySpec("q33_set_ops")((s, dir) => {
      lineitem(s, dir)
        .groupBy(col("l_suppkey").as("suppkey"))
        .agg(max(col("l_quantity") >= 45).as("has_big"))
        .select(col("suppkey"),
          when(col("has_big"), "both").otherwise("small_only").as("cls"))
    })(
      """SELECT suppkey, 'both' AS cls FROM (
        |  SELECT l_suppkey AS suppkey FROM lineitem
        |  INTERSECT
        |  SELECT l_suppkey FROM lineitem WHERE l_quantity >= 45)
        |UNION ALL
        |SELECT suppkey, 'small_only' AS cls FROM (
        |  SELECT l_suppkey AS suppkey FROM lineitem
        |  EXCEPT
        |  SELECT l_suppkey FROM lineitem WHERE l_quantity >= 45)""".stripMargin),

    // String-function breadth (portable, exactly-defined subset).
    QuerySpec("q34_string_funcs")((s, dir) => {
      customer(s, dir).select(
        col("c_custkey"),
        upper(col("c_name")).as("up"),
        lower(col("c_mktsegment")).as("lo"),
        substring(col("c_name"), 1, 8).as("sub"),
        concat_ws("|", col("c_mktsegment"), col("c_name")).as("joined"),
        length(col("c_name")).as("len"),
        reverse(col("c_name")).as("rev"),
        lpad(col("c_custkey").cast("string"), 8, "0").as("padded"),
        regexp_replace(col("c_name"), "[0-9]+", "#").as("masked"),
        instr(col("c_name"), "1").as("pos1"))
    })(
      """SELECT c_custkey,
        | upper(c_name) AS up, lower(c_mktsegment) AS lo,
        | substring(c_name, 1, 8) AS sub,
        | concat_ws('|', c_mktsegment, c_name) AS joined,
        | CAST(length(c_name) AS INTEGER) AS len,
        | reverse(c_name) AS rev,
        | lpad(CAST(c_custkey AS VARCHAR), 8, '0') AS padded,
        | regexp_replace(c_name, '[0-9]+', '#', 'g') AS masked,
        | CAST(strpos(c_name, '1') AS INTEGER) AS pos1
        |FROM customer""".stripMargin),

    // Rollup report: year/month subtotal lattice in one pass (Spark
    // rollup ≡ SQL ROLLUP; NULL markers on subtotal rows match).
    QuerySpec("q32_rollup_report")((s, dir) => {
      orders(s, dir)
        .withColumn("year_o", year(col("o_orderdate")))
        .withColumn("month_o", month(col("o_orderdate")))
        .rollup(col("year_o"), col("month_o"))
        .agg(count(lit(1)).as("n_orders"),
          Exact.sumMoney(col("o_totalprice")).as("sum_total"))
    })(
      s"""SELECT CAST(year(o_orderdate) AS INTEGER) AS year_o,
         | CAST(month(o_orderdate) AS INTEGER) AS month_o,
         | count(*) AS n_orders,
         | ${Exact.sql.sumMoney("o_totalprice")} AS sum_total
         |FROM orders GROUP BY ROLLUP (1, 2)""".stripMargin),

    // Nested/array results: grouped collection (sorted for determinism
    // — raw collect_list order varies with partitioning) + per-element
    // array transforms. Arrays are serialized to CSV strings at the
    // output boundary: the driver's comparator sorts rows in pandas,
    // which cannot hash ndarray cells.
    QuerySpec("q39_grouped_arrays")((s, dir) => {
      def joined(c: Column) = array_join(transform(c, _.cast("string")), ",")
      lineitem(s, dir)
        .groupBy(col("l_orderkey"))
        .agg(
          array_sort(collect_list(col("l_linenumber"))).as("lns"),
          // count(*), not size(collect_list): collect_list drops nulls,
          // so its size only matches the count(*) oracle coincidentally
          count(lit(1)).cast("int").as("n_lines"),
          Exact.sumMoney(col("l_extendedprice")).as("order_value"))
        .select(col("l_orderkey"),
          joined(col("lns")).as("line_numbers"),
          col("n_lines"), col("order_value"),
          joined(transform(col("lns"), x => x * x)).as("line_numbers_sq"))
    })(
      s"""SELECT l_orderkey,
         | string_agg(CAST(l_linenumber AS VARCHAR), ','
         |   ORDER BY l_linenumber) AS line_numbers,
         | CAST(count(*) AS INTEGER) AS n_lines,
         | ${Exact.sql.sumMoney("l_extendedprice")} AS order_value,
         | string_agg(CAST(l_linenumber * l_linenumber AS VARCHAR), ','
         |   ORDER BY l_linenumber) AS line_numbers_sq
         |FROM lineitem GROUP BY 1""".stripMargin),

    // Conditional aggregation (FILTER-clause semantics): per-status
    // slices computed in one pass instead of multiple scans.
    QuerySpec("q37_conditional_agg")((s, dir) => {
      orders(s, dir)
        .withColumn("year_o", year(col("o_orderdate")))
        .groupBy(col("year_o"))
        .agg(
          count(when(col("o_orderstatus") === "F", 1)).as("n_finished"),
          count(when(col("o_orderstatus") === "O", 1)).as("n_open"),
          Exact.sumMoney(when(col("o_orderstatus") === "F", col("o_totalprice"))
            .otherwise(0.0)).as("finished_total"),
          (sum(when(col("o_orderpriority") === "1-URGENT", 1).otherwise(0))
            / count(lit(1)).cast("double")).as("urgent_ratio"))
    })(
      s"""SELECT CAST(year(o_orderdate) AS INTEGER) AS year_o,
         | count(*) FILTER (o_orderstatus = 'F') AS n_finished,
         | count(*) FILTER (o_orderstatus = 'O') AS n_open,
         | sum(round((CASE WHEN o_orderstatus = 'F' THEN o_totalprice
         |   ELSE 0.0 END)*100))/100.0 AS finished_total,
         | sum(CASE WHEN o_orderpriority = '1-URGENT' THEN 1 ELSE 0 END)
         |   / CAST(count(*) AS DOUBLE) AS urgent_ratio
         |FROM orders GROUP BY 1""".stripMargin),

    // Distribution windows: per-segment quartiles + percent rank over a
    // tie-free ordering. Partitioned by segment — an unpartitioned
    // global sort funnels everything through one reducer at scale.
    // CAVEAT (SCALE.md): with only 5 segments each partition still
    // sorts through one reducer; q52 is the scale-safe two-phase twin.
    QuerySpec("q38_distribution_windows")((s, dir) => {
      val w = Window.partitionBy(col("c_mktsegment"))
        .orderBy(col("c_acctbal").asc, col("c_custkey").asc)
      customer(s, dir).select(
        col("c_custkey"), col("c_mktsegment"), col("c_acctbal"),
        ntile(4).over(w).as("balance_quartile"),
        percent_rank().over(w).as("balance_pct_rank"))
    })(
      """SELECT c_custkey, c_mktsegment, c_acctbal,
        | CAST(ntile(4) OVER w AS INTEGER) AS balance_quartile,
        | percent_rank() OVER w AS balance_pct_rank
        |FROM customer
        |WINDOW w AS (PARTITION BY c_mktsegment
        |             ORDER BY c_acctbal ASC, c_custkey ASC)""".stripMargin),

    // Corpus profiling with a mergeable quantile sketch. At accuracy
    // 10000 the GK sketch is rank-exact for these group sizes, so the
    // oracle can pin the convention explicitly (the ceil(p*n)-th
    // smallest value); at 100 TB the same plan degrades gracefully to
    // a bounded-memory approximation. Distinct-text counting hashes to
    // a 32-hex fingerprint first so only digests shuffle, never full
    // documents. (HLL++ approx_count_distinct stays covered by
    // ApproxSpec — sketch internals can't hash-match another engine.)
    QuerySpec("q29_corpus_profile")((s, dir) => {
      documents(s, dir).groupBy(col("lang")).agg(
        count(lit(1)).as("n_docs"),
        count_distinct(md5(col("text"))).as("n_distinct_texts"),
        percentile_approx(col("n_chars"), lit(0.5), lit(10000)).as("chars_p50"),
        percentile_approx(col("n_chars"), lit(0.9), lit(10000)).as("chars_p90"),
        (sum(col("n_chars")) / count(lit(1))).as("avg_chars"))
    })(
      // Percentile convention: with a rank-exact sketch, percentile_approx
      // returns the ceil(p*n)-th smallest element — pinned here via
      // row_number instead of quantile_disc (whose rank rule differs).
      """WITH ranked AS (
        |  SELECT lang, text, n_chars,
        |    row_number() OVER (PARTITION BY lang ORDER BY n_chars) AS rn,
        |    count(*) OVER (PARTITION BY lang) AS cnt
        |  FROM documents)
        |SELECT lang, count(*) AS n_docs,
        |  count(DISTINCT text) AS n_distinct_texts,
        |  max(CASE WHEN rn = CAST(ceil(0.5*cnt) AS BIGINT) THEN n_chars END)
        |    AS chars_p50,
        |  max(CASE WHEN rn = CAST(ceil(0.9*cnt) AS BIGINT) THEN n_chars END)
        |    AS chars_p90,
        |  sum(n_chars)/count(*) AS avg_chars
        |FROM ranked GROUP BY lang""".stripMargin),

    // P10/F5/F7-class + semi-structured: coalesce, NULL sentinel
    // handling, casts, JSON payload extraction from the props column.
    QuerySpec("q27_cleanse_events")((s, dir) => {
      events(s, dir)
        .withColumn("k_val", get_json_object(col("props"), "$.k").cast("int"))
        .withColumn("etype",
          coalesce(nullif(col("event_type"), lit("error")), lit("unknown")))
        .groupBy(col("etype"))
        .agg(count(lit(1)).as("n"),
          Exact.sumIntegral(col("k_val").cast("double")).as("sum_k"),
          max(col("value")).as("max_value"))
    })(
      """SELECT coalesce(nullif(event_type, 'error'), 'unknown') AS etype,
        | count(*) AS n,
        | sum(CAST(CAST(json_extract_string(props, '$.k') AS INTEGER) AS DOUBLE)) AS sum_k,
        | max(value) AS max_value
        |FROM events GROUP BY 1""".stripMargin),

    // Window analytics (beyond the reference, which has none — §2.6):
    // rank within partition, lag delta, running sum.
    QuerySpec("q28_window_analytics")((s, dir) => {
      val byCust = Window.partitionBy(col("o_custkey"))
        .orderBy(col("o_orderdate"), col("o_orderkey"))
      orders(s, dir)
        .withColumn("order_rank", row_number().over(byCust))
        .withColumn("prev_gap_days",
          datediff(col("o_orderdate"), lag(col("o_orderdate"), 1).over(byCust)))
        .withColumn("running_spend",
          (sum(round(col("o_totalprice") * 100))
            .over(byCust.rowsBetween(Window.unboundedPreceding, 0)) / 100.0))
        .select(col("o_orderkey"), col("o_custkey"), col("order_rank"),
          col("prev_gap_days"), col("running_spend"))
    })(
      """SELECT o_orderkey, o_custkey,
        | CAST(row_number() OVER w AS INTEGER) AS order_rank,
        | CAST(datediff('day', lag(o_orderdate) OVER w, o_orderdate) AS INTEGER)
        |   AS prev_gap_days,
        | sum(round(o_totalprice*100)) OVER
        |   (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
        |    ROWS UNBOUNDED PRECEDING) / 100.0 AS running_spend
        |FROM orders WINDOW w AS
        | (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)""".stripMargin),
  )
}
