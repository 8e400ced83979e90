package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import Q.t

/** The relational operator surface (SURVEY.md §2.2–§2.9 inventory re-expressed
  * over the driver's TPC-H-ish tables): filters/projections, equi/outer/semi/
  * anti/null-safe joins, hash aggregations, count-distinct, collect_list,
  * window functions, sorts/top-k, set ops, histograms, conditional aggregates.
  *
  * Each query is the Spark-idiomatic plan (broadcast for dims, partial
  * aggregation, pushed-down filters) with a DuckDB oracle.
  */
object RelationalQueries {

  /** `events` with `ts` normalized to BIGINT epoch nanoseconds regardless
    * of the parquet physical type: TIMESTAMP(NANOS) data reads as LongType
    * under `nanosAsLong` (the pre-2026-08 testdata), while timestamp[us]
    * data reads as TimestampType — `unix_micros * 1000` restores the
    * identical nanos. The DuckDB oracles use `epoch_ns(ts)`, which is
    * correct for both physical types, so only the Spark side needs this. */
  private def eventsNs(s: SparkSession, dir: String): DataFrame = {
    val ev = t(s, dir, "events")
    ev.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType => ev
      // timestamp[us] parquet reads as TIMESTAMP_NTZ; the session timezone
      // is pinned UTC, so the NTZ->LTZ cast is the identity on the epoch
      // (same convention as DuckDB's epoch_ns over a naive timestamp)
      case _ => ev.withColumn("ts",
        unix_micros(col("ts").cast("timestamp")) * 1000L)
    }
  }

  /** Gap-based sessionization shared by q38's shapes: maximal runs of a
    * user's events (event_id order) with no >1h timestamp gap →
    * (user_id, session_idx, t0, t1). */
  private[operators] def sessionize(ev: DataFrame): DataFrame = {
    val byUser = Window.partitionBy(col("user_id")).orderBy(col("event_id"))
    ev.withColumn("prev_ts", lag(col("ts"), 1).over(byUser))
      .withColumn("new_session",
        when(col("prev_ts").isNull ||
          (col("ts") - col("prev_ts")) > 3600L * 1000000000L, 1L)
          .otherwise(0L))
      .withColumn("session_idx", sum(col("new_session")).over(
        byUser.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy(col("user_id"), col("session_idx"))
      .agg(min(col("ts")).as("t0"), max(col("ts")).as("t1"))
  }

  /** Per-session count of OTHER users' events inside [t0, t1], with no
    * pairwise join — the order-statistics shape (see the q38 registry
    * comment): (G(t1) − G(t0⁻)) − (G_u(t1) − G_u(t0⁻)), where G is the
    * global event count at a timestamp and G_u the same restricted to the
    * session's own user. Both come from cumulative-sum windows over ONE
    * union of events and session-boundary markers: G per hour bucket plus
    * a broadcast per-bucket prefix (the only global step — #buckets rows),
    * G_u per user (no prefix needed — the user partition is the whole
    * domain). The same-user term is computed, not assumed: it does NOT
    * rely on a user's sessions being time-disjoint (event_id order and
    * timestamp order need not agree for correctness). */
  private[operators] def intervalConcurrency(ev: DataFrame): DataFrame = {
    val BUCKET = 3600L * 1000000000L // hour: partition granularity only
    val sess = sessionize(ev)
    // kind orders a marker against EQUAL-timestamp events inside the
    // cumulative windows: 0 (t0) sorts before events (1) -> counts ts < t0;
    // 2 (t1) sorts after -> counts ts <= t1. sign folds the two boundary
    // counts into G(t1) - G(t0^-) in one aggregate. owner carries the
    // user for the per-user window (for event rows: the event's user).
    val markers = sess.select(col("user_id"), col("session_idx"),
        explode(array(
          struct(col("t0").as("ts"), lit(0).as("kind"), lit(-1L).as("sign")),
          struct(col("t1").as("ts"), lit(2).as("kind"), lit(1L).as("sign"))))
          .as("m"))
      .select(col("user_id").as("owner"), col("user_id"), col("session_idx"),
        col("m.ts").as("ts"), col("m.kind").as("kind"),
        col("m.sign").as("sign"), lit(0L).as("is_event"))
    val evRows = ev.select(col("user_id").as("owner"),
      lit(null).cast("long").as("user_id"),
      lit(null).cast("long").as("session_idx"), col("ts"),
      lit(1).as("kind"), lit(0L).as("sign"), lit(1L).as("is_event"))
    val uni = evRows.unionByName(markers)
      .withColumn("bucket", expr(s"ts DIV ${BUCKET}L"))
    val cum = Window.partitionBy(col("bucket")).orderBy(col("ts"), col("kind"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val cumUser = Window.partitionBy(col("owner")).orderBy(col("ts"), col("kind"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val counted = uni
      .withColumn("le_in_bucket", sum(col("is_event")).over(cum))
      .withColumn("le_own", sum(col("is_event")).over(cumUser))
    // per-bucket totals -> events in all EARLIER buckets. The unpartitioned
    // window runs over #buckets rows (time span / 1h — hundreds here,
    // thousands at any real span), after the aggregate: a deliberate tiny
    // global step, then broadcast back.
    val prefix = uni.groupBy(col("bucket"))
      .agg(sum(col("is_event")).as("cnt"))
      .withColumn("before", coalesce(sum(col("cnt")).over(
        Window.orderBy(col("bucket"))
          .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .select(col("bucket"), col("before"))
    val g = counted.filter(col("is_event") === 0L)
      .join(broadcast(prefix), Seq("bucket"))
      .select(col("user_id"), col("session_idx"),
        (col("sign") * (col("before") + col("le_in_bucket") - col("le_own")))
          .as("signed_g"))
    g.groupBy(col("user_id"), col("session_idx"))
      .agg(sum(col("signed_g")).as("n_concurrent"))
      .select(col("user_id").cast("long").as("user_id"),
        col("session_idx").cast("long").as("session_idx"),
        col("n_concurrent").cast("long").as("n_concurrent"))
  }

  /** The pre-r19 pairwise shape (day-bucket equi-join + residual range
    * filter), kept as the differential oracle for
    * [[intervalConcurrency]] — IntervalPrefixSumSpec races the two on
    * uniform and hot-day fixtures. Quadratic in time density: do not use
    * at scale. */
  private[operators] def intervalConcurrencyPairwise(ev: DataFrame): DataFrame = {
    val DAY = 86400L * 1000000000L
    val sess = sessionize(ev)
    val sessB = sess.select(col("user_id"), col("session_idx"), col("t0"),
      col("t1"), explode(expr(s"sequence(t0 DIV ${DAY}L, t1 DIV ${DAY}L)"))
        .as("bucket"))
    val evB = ev.select(col("user_id").as("e_user"), col("ts"),
      expr(s"ts DIV ${DAY}L").as("bucket"))
    val matched = sessB.join(evB, Seq("bucket"))
      .filter(col("ts").between(col("t0"), col("t1")) &&
        col("e_user") =!= col("user_id"))
      .groupBy(col("user_id"), col("session_idx"))
      .agg(count(lit(1)).as("n_concurrent"))
    sess.join(matched, Seq("user_id", "session_idx"), "left")
      .select(col("user_id").cast("long").as("user_id"),
        col("session_idx").cast("long").as("session_idx"),
        coalesce(col("n_concurrent"), lit(0L)).cast("long").as("n_concurrent"))
  }

  val queries: Seq[Q] = Seq(
    // ---- A-class: grouped aggregation with partial (map-side) combine ----
    Q("q01_agg_pricing", (s, dir) => {
      import s.implicits._
      t(s, dir, "lineitem")
        .filter($"l_shipdate" <= lit("1998-09-02").cast("timestamp"))
        .groupBy($"l_returnflag", $"l_linestatus")
        .agg(
          sum($"l_quantity").cast("double").as("sum_qty"),
          round(sum($"l_extendedprice"), 2).as("sum_base"),
          round(sum($"l_extendedprice" * (lit(1.0) - $"l_discount")), 2).as("sum_disc"),
          round(avg($"l_quantity"), 6).as("avg_qty"),
          count(lit(1)).cast("long").as("cnt"))
        .orderBy($"l_returnflag", $"l_linestatus")
    }, Some(
      """SELECT l_returnflag, l_linestatus,
        | CAST(sum(l_quantity) AS DOUBLE) AS sum_qty,
        | round(CAST(sum(l_extendedprice) AS DOUBLE), 2) AS sum_base,
        | round(CAST(sum(l_extendedprice * (1.0 - l_discount)) AS DOUBLE), 2) AS sum_disc,
        | round(CAST(avg(l_quantity) AS DOUBLE), 6) AS avg_qty,
        | CAST(count(*) AS BIGINT) AS cnt
        |FROM lineitem WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
        |GROUP BY l_returnflag, l_linestatus ORDER BY l_returnflag, l_linestatus""".stripMargin),
      bench = true),

    // ---- P-class: filter + projection (pushed to the parquet scan) ----
    Q("q02_filter_project", (s, dir) => {
      import s.implicits._
      t(s, dir, "lineitem")
        .filter($"l_quantity" >= 49 && $"l_shipdate" >= lit("2000-01-01").cast("timestamp"))
        .select(
          $"l_orderkey".cast("long").as("l_orderkey"),
          $"l_linenumber".cast("long").as("l_linenumber"),
          $"l_quantity".cast("double").as("l_quantity"))
        .orderBy($"l_orderkey", $"l_linenumber")
    }, Some(
      """SELECT CAST(l_orderkey AS BIGINT) AS l_orderkey,
        | CAST(l_linenumber AS BIGINT) AS l_linenumber,
        | CAST(l_quantity AS DOUBLE) AS l_quantity
        |FROM lineitem
        |WHERE l_quantity >= 49 AND l_shipdate >= TIMESTAMP '2000-01-01 00:00:00'
        |ORDER BY l_orderkey, l_linenumber""".stripMargin)),

    // ---- J-class: dimension joins — both dims broadcast (region 5 rows,
    // nation 25 rows); no shuffle of the fact side beyond the final agg ----
    Q("q03_join_dims", (s, dir) => {
      import s.implicits._
      t(s, dir, "customer")
        .join(broadcast(t(s, dir, "nation")), $"c_nationkey" === $"n_nationkey")
        .join(broadcast(t(s, dir, "region")), $"n_regionkey" === $"r_regionkey")
        .groupBy($"r_name", $"n_name")
        .agg(count(lit(1)).cast("long").as("cnt"),
          round(sum($"c_acctbal"), 2).as("sum_bal"))
        .orderBy($"r_name", $"n_name")
    }, Some(
      """SELECT r_name, n_name, CAST(count(*) AS BIGINT) AS cnt,
        | round(CAST(sum(c_acctbal) AS DOUBLE), 2) AS sum_bal
        |FROM customer JOIN nation ON c_nationkey = n_nationkey
        |  JOIN region ON n_regionkey = r_regionkey
        |GROUP BY r_name, n_name ORDER BY r_name, n_name""".stripMargin),
      bench = true),

    // ---- J1 analog: fact-to-fact equi-join (shuffle on the join key) ----
    Q("q04_join_fact", (s, dir) => {
      import s.implicits._
      t(s, dir, "lineitem")
        .join(t(s, dir, "orders"), $"l_orderkey" === $"o_orderkey")
        .groupBy($"o_orderpriority")
        .agg(count(lit(1)).cast("long").as("cnt"),
          sum($"l_quantity").cast("double").as("sum_qty"),
          round(sum($"l_extendedprice"), 2).as("sum_price"))
        .orderBy($"o_orderpriority")
    }, Some(
      """SELECT o_orderpriority, CAST(count(*) AS BIGINT) AS cnt,
        | CAST(sum(l_quantity) AS DOUBLE) AS sum_qty,
        | round(CAST(sum(l_extendedprice) AS DOUBLE), 2) AS sum_price
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin),
      bench = true),

    // ---- left outer join with null-sentinel projection (SURVEY P6) ----
    Q("q05_outer_join", (s, dir) => {
      import s.implicits._
      val bld = t(s, dir, "customer").filter($"c_mktsegment" === "BUILDING")
      t(s, dir, "orders")
        .join(bld, $"o_custkey" === $"c_custkey", "left")
        .select(coalesce($"c_mktsegment", lit("none")).as("seg"))
        .groupBy($"seg").agg(count(lit(1)).cast("long").as("cnt"))
        .orderBy($"seg")
    }, Some(
      """SELECT coalesce(c_mktsegment, 'none') AS seg, CAST(count(*) AS BIGINT) AS cnt
        |FROM orders LEFT JOIN (SELECT * FROM customer WHERE c_mktsegment = 'BUILDING') c
        |  ON o_custkey = c_custkey
        |GROUP BY 1 ORDER BY 1""".stripMargin)),

    // ---- W-class: row_number window, first row per group ----
    Q("q06_first_per_group", (s, dir) => {
      import s.implicits._
      val w = Window.partitionBy($"o_custkey").orderBy($"o_orderdate", $"o_orderkey")
      t(s, dir, "orders")
        .withColumn("rn", row_number().over(w))
        .filter($"rn" === 1)
        .select($"o_custkey".cast("long").as("o_custkey"),
          $"o_orderkey".cast("long").as("first_order"),
          year($"o_orderdate").cast("long").as("first_year"))
        .orderBy($"o_custkey")
    }, Some(
      """SELECT CAST(o_custkey AS BIGINT) AS o_custkey,
        | CAST(o_orderkey AS BIGINT) AS first_order,
        | CAST(year(o_orderdate) AS BIGINT) AS first_year
        |FROM (SELECT *, row_number() OVER (PARTITION BY o_custkey
        |        ORDER BY o_orderdate, o_orderkey) AS rn FROM orders)
        |WHERE rn = 1 ORDER BY o_custkey""".stripMargin)),

    // ---- running sum window (prefix order is identical in both engines) ----
    Q("q07_running_sum", (s, dir) => {
      import s.implicits._
      val w = Window.partitionBy($"user_id").orderBy($"event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      t(s, dir, "events")
        .withColumn("running", round(sum($"value").over(w), 4))
        .select($"event_id".cast("long").as("event_id"), $"running")
        .orderBy($"event_id")
    }, Some(
      """SELECT CAST(event_id AS BIGINT) AS event_id,
        | round(CAST(sum(value) OVER (PARTITION BY user_id ORDER BY event_id
        |   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE), 4) AS running
        |FROM events ORDER BY event_id""".stripMargin),
      bench = true),

    // ---- sliding window (SURVEY W1: the FASTQ 4-row window shape) ----
    Q("q08_sliding_avg", (s, dir) => {
      import s.implicits._
      val w = Window.partitionBy($"user_id").orderBy($"event_id").rowsBetween(-3, 0)
      t(s, dir, "events")
        .withColumn("win_avg", round(avg($"value").over(w), 4))
        .select($"event_id".cast("long").as("event_id"), $"win_avg")
        .orderBy($"event_id")
    }, Some(
      """SELECT CAST(event_id AS BIGINT) AS event_id,
        | round(CAST(avg(value) OVER (PARTITION BY user_id ORDER BY event_id
        |   ROWS BETWEEN 3 PRECEDING AND CURRENT ROW) AS DOUBLE), 4) AS win_avg
        |FROM events ORDER BY event_id""".stripMargin)),

    // ---- O-class: deterministic top-k (total order via tiebreak) ----
    Q("q09_topk", (s, dir) => {
      import s.implicits._
      t(s, dir, "orders")
        .orderBy($"o_totalprice".desc, $"o_orderkey".asc)
        .limit(10)
        .select($"o_orderkey".cast("long").as("o_orderkey"),
          $"o_totalprice".cast("double").as("o_totalprice"))
    }, Some(
      """SELECT CAST(o_orderkey AS BIGINT) AS o_orderkey,
        | CAST(o_totalprice AS DOUBLE) AS o_totalprice
        |FROM orders ORDER BY o_totalprice DESC, o_orderkey ASC LIMIT 10""".stripMargin)),

    // ---- U2: distinct ----
    Q("q10_distinct", (s, dir) => {
      import s.implicits._
      t(s, dir, "customer")
        .select($"c_nationkey".cast("long").as("c_nationkey"), $"c_mktsegment")
        .distinct()
        .orderBy($"c_nationkey", $"c_mktsegment")
    }, Some(
      """SELECT DISTINCT CAST(c_nationkey AS BIGINT) AS c_nationkey, c_mktsegment
        |FROM customer ORDER BY c_nationkey, c_mktsegment""".stripMargin)),

    // ---- U1: union-all then aggregate ----
    Q("q11_union_all", (s, dir) => {
      import s.implicits._
      val sup = t(s, dir, "supplier").select($"s_nationkey".cast("long").as("nationkey"))
      val cus = t(s, dir, "customer").select($"c_nationkey".cast("long").as("nationkey"))
      sup.unionAll(cus)
        .groupBy($"nationkey").agg(count(lit(1)).cast("long").as("cnt"))
        .orderBy($"nationkey")
    }, Some(
      """SELECT nationkey, CAST(count(*) AS BIGINT) AS cnt FROM (
        |  SELECT CAST(s_nationkey AS BIGINT) AS nationkey FROM supplier
        |  UNION ALL SELECT CAST(c_nationkey AS BIGINT) FROM customer)
        |GROUP BY nationkey ORDER BY nationkey""".stripMargin)),

    // ---- J4 analog: semi join (EXISTS) ----
    Q("q12_semijoin", (s, dir) => {
      import s.implicits._
      t(s, dir, "customer")
        .join(t(s, dir, "orders"), $"c_custkey" === $"o_custkey", "left_semi")
        .groupBy($"c_mktsegment").agg(count(lit(1)).cast("long").as("cnt"))
        .orderBy($"c_mktsegment")
    }, Some(
      """SELECT c_mktsegment, CAST(count(*) AS BIGINT) AS cnt FROM customer
        |WHERE EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
        |GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin)),

    // ---- anti join (NOT EXISTS) ----
    Q("q13_antijoin", (s, dir) => {
      import s.implicits._
      val recent = t(s, dir, "orders")
        .filter($"o_orderdate" >= lit("2001-01-01").cast("timestamp"))
      t(s, dir, "customer")
        .join(recent, $"c_custkey" === $"o_custkey", "left_anti")
        .groupBy($"c_nationkey".cast("long").as("c_nationkey"))
        .agg(count(lit(1)).cast("long").as("cnt"))
        .orderBy($"c_nationkey")
    }, Some(
      """SELECT CAST(c_nationkey AS BIGINT) AS c_nationkey, CAST(count(*) AS BIGINT) AS cnt
        |FROM customer
        |WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey
        |  AND o_orderdate >= TIMESTAMP '2001-01-01 00:00:00')
        |GROUP BY 1 ORDER BY 1""".stripMargin)),

    // ---- A5/A13: exact multi-column count-distinct ----
    Q("q14_count_distinct", (s, dir) => {
      import s.implicits._
      t(s, dir, "customer")
        .groupBy($"c_nationkey".cast("long").as("c_nationkey"))
        .agg(countDistinct($"c_mktsegment").cast("long").as("n_seg"),
          count(lit(1)).cast("long").as("cnt"))
        .orderBy($"c_nationkey")
    }, Some(
      """SELECT CAST(c_nationkey AS BIGINT) AS c_nationkey,
        | CAST(count(DISTINCT c_mktsegment) AS BIGINT) AS n_seg,
        | CAST(count(*) AS BIGINT) AS cnt
        |FROM customer GROUP BY 1 ORDER BY 1""".stripMargin)),

    // ---- A12: aggregate + HAVING ----
    Q("q15_having", (s, dir) => {
      import s.implicits._
      t(s, dir, "lineitem")
        .groupBy($"l_partkey".cast("long").as("l_partkey"))
        .agg(sum($"l_quantity").cast("double").as("sum_qty"))
        .filter($"sum_qty" > 250.0)
        .orderBy($"l_partkey")
    }, Some(
      """SELECT CAST(l_partkey AS BIGINT) AS l_partkey,
        | CAST(sum(l_quantity) AS DOUBLE) AS sum_qty
        |FROM lineitem GROUP BY 1 HAVING CAST(sum(l_quantity) AS DOUBLE) > 250.0
        |ORDER BY 1""".stripMargin)),

    // ---- P6: CASE WHEN sentinel projection ----
    Q("q16_casewhen", (s, dir) => {
      import s.implicits._
      t(s, dir, "events")
        .select(when($"event_type" === "click", 1L)
          .when($"event_type" === "view", 2L)
          .when($"event_type" === "purchase", 3L)
          .otherwise(-1L).as("code"))
        .groupBy($"code").agg(count(lit(1)).cast("long").as("cnt"))
        .orderBy($"code")
    }, Some(
      """SELECT CASE WHEN event_type = 'click' THEN 1
        |  WHEN event_type = 'view' THEN 2
        |  WHEN event_type = 'purchase' THEN 3 ELSE -1 END AS code,
        | CAST(count(*) AS BIGINT) AS cnt
        |FROM events GROUP BY 1 ORDER BY 1""".stripMargin)),

    // ---- P4: regexp_extract (sample-id extraction shape) ----
    Q("q17_regex_extract", (s, dir) => {
      import s.implicits._
      t(s, dir, "customer")
        .filter($"c_custkey" < 100)
        .select($"c_custkey".cast("long").as("c_custkey"),
          regexp_extract($"c_name", "Customer#(\\d+)", 1).cast("long").as("cnum"))
        .orderBy($"c_custkey")
    }, Some(
      """SELECT CAST(c_custkey AS BIGINT) AS c_custkey,
        | CAST(regexp_extract(c_name, 'Customer#(\d+)', 1) AS BIGINT) AS cnum
        |FROM customer WHERE c_custkey < 100 ORDER BY 1""".stripMargin)),

    // ---- A2 analog: collect_list regrouping (order restored by sort) ----
    Q("q18_collect_sorted", (s, dir) => {
      import s.implicits._
      t(s, dir, "lineitem")
        .filter($"l_orderkey" < 400)
        .groupBy($"l_orderkey".cast("long").as("l_orderkey"))
        .agg(array_join(sort_array(collect_list($"l_linenumber")), ",").as("lines"),
          count(lit(1)).cast("long").as("n"))
        .orderBy($"l_orderkey")
    }, Some(
      """SELECT CAST(l_orderkey AS BIGINT) AS l_orderkey,
        | array_to_string(list_sort(list(l_linenumber)), ',') AS lines,
        | CAST(count(*) AS BIGINT) AS n
        |FROM lineitem WHERE l_orderkey < 400 GROUP BY 1 ORDER BY 1""".stripMargin)),

    // ---- A3/A4 analog: two-level aggregation ----
    Q("q19_twolevel_agg", (s, dir) => {
      import s.implicits._
      t(s, dir, "orders")
        .groupBy($"o_custkey").agg(count(lit(1)).as("n_orders"))
        .groupBy($"n_orders".cast("long").as("n_orders"))
        .agg(count(lit(1)).cast("long").as("n_cust"))
        .orderBy($"n_orders")
    }, Some(
      """SELECT CAST(n_orders AS BIGINT) AS n_orders, CAST(count(*) AS BIGINT) AS n_cust
        |FROM (SELECT o_custkey, count(*) AS n_orders FROM orders GROUP BY 1)
        |GROUP BY 1 ORDER BY 1""".stripMargin)),

    // ---- temporal truncation aggregate ----
    Q("q20_year_agg", (s, dir) => {
      import s.implicits._
      t(s, dir, "orders")
        .groupBy(year($"o_orderdate").cast("long").as("y"))
        .agg(count(lit(1)).cast("long").as("cnt"),
          round(sum($"o_totalprice"), 2).as("sum_price"))
        .orderBy($"y")
    }, Some(
      """SELECT CAST(year(o_orderdate) AS BIGINT) AS y,
        | CAST(count(*) AS BIGINT) AS cnt,
        | round(CAST(sum(o_totalprice) AS DOUBLE), 2) AS sum_price
        |FROM orders GROUP BY 1 ORDER BY 1""".stripMargin)),

    // ---- A10 analog: bucketed histogram ----
    Q("q21_histogram", (s, dir) => {
      import s.implicits._
      t(s, dir, "orders")
        .groupBy(floor($"o_totalprice" / 10000.0).cast("long").as("bucket"))
        .agg(count(lit(1)).cast("long").as("cnt"))
        .orderBy($"bucket")
    }, Some(
      """SELECT CAST(floor(o_totalprice / 10000.0) AS BIGINT) AS bucket,
        | CAST(count(*) AS BIGINT) AS cnt
        |FROM orders GROUP BY 1 ORDER BY 1""".stripMargin)),

    // ---- A14 analog: min/max summary stats (exact, no FP reorder) ----
    Q("q22_minmax", (s, dir) => {
      import s.implicits._
      t(s, dir, "lineitem")
        .groupBy($"l_returnflag")
        .agg(min($"l_quantity").cast("double").as("min_qty"),
          max($"l_quantity").cast("double").as("max_qty"),
          min($"l_extendedprice").cast("double").as("min_price"),
          max($"l_extendedprice").cast("double").as("max_price"),
          count(lit(1)).cast("long").as("cnt"))
        .orderBy($"l_returnflag")
    }, Some(
      """SELECT l_returnflag, CAST(min(l_quantity) AS DOUBLE) AS min_qty,
        | CAST(max(l_quantity) AS DOUBLE) AS max_qty,
        | CAST(min(l_extendedprice) AS DOUBLE) AS min_price,
        | CAST(max(l_extendedprice) AS DOUBLE) AS max_price,
        | CAST(count(*) AS BIGINT) AS cnt
        |FROM lineitem GROUP BY 1 ORDER BY 1""".stripMargin)),

    // ---- conditional aggregation (pivot shape) ----
    Q("q23_conditional_agg", (s, dir) => {
      import s.implicits._
      t(s, dir, "events")
        .groupBy(($"user_id" % 100).cast("long").as("ub"))
        .agg(count(when($"event_type" === "click", 1)).cast("long").as("clicks"),
          count(when($"event_type" === "purchase", 1)).cast("long").as("purchases"),
          count(when($"event_type" === "error", 1)).cast("long").as("errors"),
          round(sum(when($"event_type" === "purchase", $"value").otherwise(0.0)), 4)
            .as("purchase_value"))
        .orderBy($"ub")
    }, Some(
      """SELECT CAST(user_id % 100 AS BIGINT) AS ub,
        | CAST(count(*) FILTER (WHERE event_type = 'click') AS BIGINT) AS clicks,
        | CAST(count(*) FILTER (WHERE event_type = 'purchase') AS BIGINT) AS purchases,
        | CAST(count(*) FILTER (WHERE event_type = 'error') AS BIGINT) AS errors,
        | round(CAST(sum(CASE WHEN event_type = 'purchase' THEN value ELSE 0.0 END)
        |   AS DOUBLE), 4) AS purchase_value
        |FROM events GROUP BY 1 ORDER BY 1""".stripMargin)),

    // ---- J7 analog: null-safe equality join (<=>) ----
    Q("q24_nullsafe_join", (s, dir) => {
      import s.implicits._
      val c = t(s, dir, "customer")
        .select(when($"c_nationkey" === 3, lit(null)).otherwise($"c_nationkey")
          .cast("long").as("ck"))
      val sup = t(s, dir, "supplier")
        .select(when($"s_nationkey" === 3, lit(null)).otherwise($"s_nationkey")
          .cast("long").as("sk"))
      c.join(sup, $"ck" <=> $"sk")
        .agg(count(lit(1)).cast("long").as("cnt"))
    }, Some(
      """SELECT CAST(count(*) AS BIGINT) AS cnt
        |FROM (SELECT CAST(nullif(c_nationkey, 3) AS BIGINT) AS ck FROM customer) c
        |JOIN (SELECT CAST(nullif(s_nationkey, 3) AS BIGINT) AS sk FROM supplier) s
        |ON ck IS NOT DISTINCT FROM sk""".stripMargin)),

    // ---- ranking windows: rank / dense_rank / ntile ----
    Q("q29_ranking", (s, dir) => {
      import s.implicits._
      val w = Window.partitionBy($"c_nationkey").orderBy($"c_acctbal".desc, $"c_custkey")
      t(s, dir, "customer")
        .withColumn("rnk", rank().over(w))
        .withColumn("drnk", dense_rank().over(w))
        .withColumn("quartile", ntile(4).over(w))
        .filter($"rnk" <= 8)
        .select($"c_nationkey".cast("long").as("c_nationkey"),
          $"c_custkey".cast("long").as("c_custkey"),
          $"rnk".cast("long").as("rnk"), $"drnk".cast("long").as("drnk"),
          $"quartile".cast("long").as("quartile"))
        .orderBy($"c_nationkey", $"rnk", $"c_custkey")
    }, Some(
      """SELECT CAST(c_nationkey AS BIGINT) AS c_nationkey,
        | CAST(c_custkey AS BIGINT) AS c_custkey,
        | CAST(rnk AS BIGINT) AS rnk, CAST(drnk AS BIGINT) AS drnk,
        | CAST(quartile AS BIGINT) AS quartile
        |FROM (
        |  SELECT c_nationkey, c_custkey,
        |   rank() OVER w AS rnk, dense_rank() OVER w AS drnk,
        |   ntile(4) OVER w AS quartile
        |  FROM customer
        |  WINDOW w AS (PARTITION BY c_nationkey ORDER BY c_acctbal DESC, c_custkey))
        |WHERE rnk <= 8 ORDER BY c_nationkey, rnk, c_custkey""".stripMargin)),

    // ---- lag/lead offsets with defaults ----
    Q("q30_lag_lead", (s, dir) => {
      import s.implicits._
      val w = Window.partitionBy($"o_custkey").orderBy($"o_orderkey")
      t(s, dir, "orders")
        .withColumn("prev_price", lag($"o_totalprice", 1, 0.0).over(w))
        .withColumn("next_price", lead($"o_totalprice", 1, 0.0).over(w))
        .filter($"o_custkey" < 100)
        .select($"o_orderkey".cast("long").as("o_orderkey"),
          round($"o_totalprice" - $"prev_price", 4).as("delta_prev"),
          round($"next_price" - $"o_totalprice", 4).as("delta_next"))
        .orderBy($"o_orderkey")
    }, Some(
      """SELECT CAST(o_orderkey AS BIGINT) AS o_orderkey,
        | round(o_totalprice - prev_price, 4) AS delta_prev,
        | round(next_price - o_totalprice, 4) AS delta_next
        |FROM (
        |  SELECT o_orderkey, o_custkey, o_totalprice,
        |   lag(o_totalprice, 1, 0.0) OVER w AS prev_price,
        |   lead(o_totalprice, 1, 0.0) OVER w AS next_price
        |  FROM orders WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderkey))
        |WHERE o_custkey < 100 ORDER BY o_orderkey""".stripMargin)),

    // ---- gap-based sessionization (stateful window composition) ----
    Q("q26_sessionize", (s, dir) => {
      import s.implicits._
      // events.ts normalized to BIGINT nanos (eventsNs); a >1h gap starts a
      // new session. DuckDB compares epoch_ns equally.
      val byUser = Window.partitionBy($"user_id").orderBy($"event_id")
      eventsNs(s, dir)
        .withColumn("prev_ts", lag($"ts", 1).over(byUser))
        .withColumn("new_session",
          when($"prev_ts".isNull || ($"ts" - $"prev_ts") > 3600L * 1000000000L, 1L)
            .otherwise(0L))
        .withColumn("session_idx", sum($"new_session").over(
          byUser.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
        .groupBy($"user_id".cast("long").as("user_id"))
        .agg(max($"session_idx").cast("long").as("n_sessions"),
          count(lit(1)).cast("long").as("n_events"))
        .orderBy($"user_id")
    }, Some(
      """SELECT CAST(user_id AS BIGINT) AS user_id,
        | CAST(max(session_idx) AS BIGINT) AS n_sessions,
        | CAST(count(*) AS BIGINT) AS n_events
        |FROM (
        |  SELECT user_id,
        |   sum(new_session) OVER (PARTITION BY user_id ORDER BY event_id
        |     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_idx
        |  FROM (
        |    SELECT user_id, event_id,
        |     CASE WHEN lag(epoch_ns(ts)) OVER (PARTITION BY user_id ORDER BY event_id)
        |       IS NULL OR epoch_ns(ts) - lag(epoch_ns(ts)) OVER
        |       (PARTITION BY user_id ORDER BY event_id) > 3600000000000
        |      THEN 1 ELSE 0 END AS new_session
        |    FROM events))
        |GROUP BY 1 ORDER BY 1""".stripMargin)),

    // ---- rollup (grouping-set aggregate; NULL-free output for parity) ----
    Q("q27_rollup", (s, dir) => {
      import s.implicits._
      t(s, dir, "orders")
        .rollup(year($"o_orderdate").cast("long").as("y"), $"o_orderpriority")
        .agg(count(lit(1)).cast("long").as("cnt"))
        .select(coalesce($"y", lit(-1L)).as("y"),
          coalesce($"o_orderpriority", lit("ALL")).as("pri"), $"cnt")
        .orderBy($"y", $"pri")
    }, Some(
      """SELECT coalesce(CAST(y AS BIGINT), -1) AS y,
        | coalesce(o_orderpriority, 'ALL') AS pri,
        | CAST(count(*) AS BIGINT) AS cnt
        |FROM (SELECT year(o_orderdate) AS y, o_orderpriority FROM orders)
        |GROUP BY ROLLUP (y, o_orderpriority)
        |ORDER BY 1, 2""".stripMargin)),

    // ---- exact interpolated percentiles ----
    Q("q28_percentiles", (s, dir) => {
      import s.implicits._
      t(s, dir, "orders")
        .groupBy($"o_orderpriority")
        .agg(
          round(expr("percentile(o_totalprice, 0.5)"), 4).as("p50"),
          round(expr("percentile(o_totalprice, 0.9)"), 4).as("p90"),
          count(lit(1)).cast("long").as("cnt"))
        .orderBy($"o_orderpriority")
    }, Some(
      """SELECT o_orderpriority,
        | round(CAST(quantile_cont(o_totalprice, 0.5) AS DOUBLE), 4) AS p50,
        | round(CAST(quantile_cont(o_totalprice, 0.9) AS DOUBLE), 4) AS p90,
        | CAST(count(*) AS BIGINT) AS cnt
        |FROM orders GROUP BY 1 ORDER BY 1""".stripMargin)),

    // ---- set operators: INTERSECT / EXCEPT (distinct semantics) ----
    Q("q33_setops", (s, dir) => {
      import s.implicits._
      val custNations = t(s, dir, "customer")
        .select($"c_nationkey".cast("long").as("nationkey")).distinct()
      val suppNations = t(s, dir, "supplier")
        .select($"s_nationkey".cast("long").as("nationkey")).distinct()
      val both = custNations.intersect(suppNations)
        .withColumn("op", lit("both"))
      val custOnly = custNations.except(suppNations)
        .withColumn("op", lit("cust_only"))
      both.unionAll(custOnly)
        .select($"op", $"nationkey")
        .orderBy($"op", $"nationkey")
    }, Some(
      """SELECT 'both' AS op, nationkey FROM (
        |  SELECT DISTINCT CAST(c_nationkey AS BIGINT) AS nationkey FROM customer
        |  INTERSECT
        |  SELECT DISTINCT CAST(s_nationkey AS BIGINT) FROM supplier)
        |UNION ALL
        |SELECT 'cust_only' AS op, nationkey FROM (
        |  SELECT DISTINCT CAST(c_nationkey AS BIGINT) AS nationkey FROM customer
        |  EXCEPT
        |  SELECT DISTINCT CAST(s_nationkey AS BIGINT) FROM supplier)
        |ORDER BY op, nationkey""".stripMargin)),

    // ---- RANGE window frame (value-based, not row-based) ----
    Q("q32_range_frame", (s, dir) => {
      import s.implicits._
      val w = Window.partitionBy($"o_custkey").orderBy($"o_totalprice")
        .rangeBetween(-10000L, 0L)
      t(s, dir, "orders")
        .withColumn("n_similar", count(lit(1)).over(w))
        .filter($"o_custkey" < 200)
        .select($"o_orderkey".cast("long").as("o_orderkey"),
          $"n_similar".cast("long").as("n_similar"))
        .orderBy($"o_orderkey")
    }, Some(
      """SELECT CAST(o_orderkey AS BIGINT) AS o_orderkey,
        | CAST(count(*) OVER (PARTITION BY o_custkey ORDER BY o_totalprice
        |   RANGE BETWEEN 10000 PRECEDING AND CURRENT ROW) AS BIGINT) AS n_similar
        |FROM orders WHERE o_custkey < 200 ORDER BY o_orderkey""".stripMargin)),

    // ---- correlated-subquery shape (TPC-H Q17 style): per-group average
    // threshold; Spark expresses it as a join against the grouped aggregate,
    // DuckDB as the correlated subquery — identical semantics ----
    Q("q31_corr_subquery", (s, dir) => {
      import s.implicits._
      val li = t(s, dir, "lineitem")
      val avgQty = li.groupBy($"l_partkey".as("pk"))
        .agg(avg($"l_quantity").as("avg_qty"))
      li.join(avgQty, $"l_partkey" === $"pk")
        .filter($"l_quantity" < $"avg_qty" * 0.5)
        .agg(count(lit(1)).cast("long").as("cnt"),
          round(sum($"l_extendedprice"), 2).as("sum_price"))
    }, Some(
      """SELECT CAST(count(*) AS BIGINT) AS cnt,
        | round(CAST(sum(l_extendedprice) AS DOUBLE), 2) AS sum_price
        |FROM lineitem l
        |WHERE l_quantity < 0.5 * (SELECT avg(l_quantity) FROM lineitem
        |                          WHERE l_partkey = l.l_partkey)""".stripMargin)),

    // ---- J6 analog: two-key equi-join (adjacent-line self-join) ----
    Q("q25_twokey_join", (s, dir) => {
      import s.implicits._
      val a = t(s, dir, "lineitem").select($"l_orderkey".as("ok"),
        $"l_linenumber".as("ln"), $"l_quantity".as("q1"))
      val b = t(s, dir, "lineitem").select($"l_orderkey".as("ok"),
        ($"l_linenumber" - 1).as("ln"), $"l_quantity".as("q2"))
      a.join(b, Seq("ok", "ln"))
        .agg(count(lit(1)).cast("long").as("cnt"),
          sum($"q1" * $"q2").cast("double").as("sum_qq"))
    }, Some(
      """SELECT CAST(count(*) AS BIGINT) AS cnt,
        | CAST(sum(a.l_quantity * b.l_quantity) AS DOUBLE) AS sum_qq
        |FROM lineitem a JOIN lineitem b
        |ON a.l_orderkey = b.l_orderkey AND a.l_linenumber = b.l_linenumber - 1""".stripMargin),
      bench = true),

    // ---- pivot: long->wide reshaping with a FIXED value list (a bounded
    // pivot is a single pass of conditional aggregation — never pivot on an
    // unbounded column at scale) ----
    Q("q34_pivot", (s, dir) => {
      import s.implicits._
      t(s, dir, "orders")
        .select(year($"o_orderdate").cast("long").as("yr"), $"o_orderpriority")
        .groupBy($"yr")
        .pivot("o_orderpriority",
          Seq("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"))
        .count()
        .na.fill(0L)
        .withColumnRenamed("1-URGENT", "p_urgent")
        .withColumnRenamed("2-HIGH", "p_high")
        .withColumnRenamed("3-MEDIUM", "p_medium")
        .withColumnRenamed("4-NOT SPECIFIED", "p_notspec")
        .withColumnRenamed("5-LOW", "p_low")
        .orderBy($"yr")
    }, Some(
      """SELECT CAST(year(o_orderdate) AS BIGINT) AS yr,
        | count(*) FILTER (WHERE o_orderpriority = '1-URGENT') AS p_urgent,
        | count(*) FILTER (WHERE o_orderpriority = '2-HIGH') AS p_high,
        | count(*) FILTER (WHERE o_orderpriority = '3-MEDIUM') AS p_medium,
        | count(*) FILTER (WHERE o_orderpriority = '4-NOT SPECIFIED') AS p_notspec,
        | count(*) FILTER (WHERE o_orderpriority = '5-LOW') AS p_low
        |FROM orders GROUP BY 1 ORDER BY 1""".stripMargin)),

    // ---- as-of (temporal) join: each click event attributed to the user's
    // most recent error event at or before it — the fact x slowly-changing-
    // dimension shape behind feature attribution. Spark-first: NO join node
    // at all — union both streams with a tag and take last_value(ignoreNulls)
    // over (user, ts) order, profiles sorting before facts at equal ts. One
    // shuffle on user_id, linear in input; a range join here would be
    // quadratic per hot user at corpus scale. The DuckDB oracle is a native
    // ASOF LEFT JOIN (inclusive semantics match the tag ordering). ----
    Q("q35_asof_join", (s, dir) => {
      import s.implicits._
      val ev = t(s, dir, "events")
      // profiles pre-dedupe to ONE row per (user_id, ts) — max_by(value,
      // event_id) — in BOTH engines: DuckDB's ASOF pick among equal-ts
      // matches is unspecified, so leaving duplicate-(user_id, ts) errors
      // in place would make the oracle compare engine tie-break choices
      // instead of as-of semantics
      val profiles = ev.filter($"event_type" === "error")
        .groupBy($"user_id", $"ts")
        .agg(max_by($"value", $"event_id").as("pv"))
        .select($"user_id", $"ts", lit(0L).as("tag"),
          lit(-1L).as("event_id"), $"pv")
      val facts = ev.filter($"event_type" === "click")
        .select($"user_id", $"ts", lit(1L).as("tag"), $"event_id",
          lit(null).cast("double").as("pv"))
      val w = Window.partitionBy($"user_id").orderBy($"ts", $"tag", $"event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      profiles.unionByName(facts)
        .withColumn("asof_value", last($"pv", ignoreNulls = true).over(w))
        .filter($"tag" === 1L)
        .select($"event_id".cast("long").as("event_id"),
          $"user_id".cast("long").as("user_id"),
          coalesce($"asof_value", lit(-1.0)).as("asof_value"))
        .orderBy($"event_id")
    }, Some(
      """SELECT CAST(f.event_id AS BIGINT) AS event_id,
        | CAST(f.user_id AS BIGINT) AS user_id,
        | coalesce(p.value, -1.0) AS asof_value
        |FROM (SELECT * FROM events WHERE event_type = 'click') f
        |ASOF LEFT JOIN (
        |  SELECT user_id, ts, max_by(value, event_id) AS value
        |  FROM events WHERE event_type = 'error' GROUP BY 1, 2) p
        |  ON f.user_id = p.user_id AND f.ts >= p.ts
        |ORDER BY event_id""".stripMargin), bench = true),

    // ---- semi-structured extraction: pull a typed field out of the JSON
    // props column and aggregate on it — metadata extraction stays a narrow
    // codegen'd map (get_json_object), never a parse-to-struct of the whole
    // payload when one path is needed ----
    Q("q36_json_extract", (s, dir) => {
      import s.implicits._
      t(s, dir, "events")
        .select($"event_type",
          get_json_object($"props", "$.k").cast("long").as("k"))
        .groupBy($"event_type")
        .agg(count(lit(1)).cast("long").as("n"),
          sum($"k").cast("long").as("sum_k"),
          min($"k").cast("long").as("min_k"),
          max($"k").cast("long").as("max_k"))
        .orderBy($"event_type")
    }, Some(
      """SELECT event_type, CAST(count(*) AS BIGINT) AS n,
        | CAST(sum(k) AS BIGINT) AS sum_k,
        | CAST(min(k) AS BIGINT) AS min_k,
        | CAST(max(k) AS BIGINT) AS max_k
        |FROM (SELECT event_type,
        |        TRY_CAST(json_extract(props, '$.k') AS BIGINT) AS k
        |      FROM events)
        |GROUP BY 1 ORDER BY 1""".stripMargin)),

    // ---- unpivot (melt): the inverse reshape of q34 via the stack
    // generator — one pass, no join. The oracle is the DIRECT long-form
    // group-by, so the round trip pivot -> unpivot == identity is what the
    // gate verifies (na.fill zeros are dropped to restore the sparse form).
    Q("q37_unpivot", (s, dir) => {
      import s.implicits._
      t(s, dir, "orders")
        .select(year($"o_orderdate").cast("long").as("yr"), $"o_orderpriority")
        .groupBy($"yr")
        .pivot("o_orderpriority",
          Seq("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"))
        .count()
        .na.fill(0L)
        .select($"yr", expr(
          "stack(5, '1-URGENT', `1-URGENT`, '2-HIGH', `2-HIGH`," +
            " '3-MEDIUM', `3-MEDIUM`, '4-NOT SPECIFIED', `4-NOT SPECIFIED`," +
            " '5-LOW', `5-LOW`) AS (priority, cnt)"))
        .filter($"cnt" > 0)
        .select($"yr", $"priority", $"cnt".cast("long").as("cnt"))
        .orderBy($"yr", $"priority")
    }, Some(
      """SELECT CAST(year(o_orderdate) AS BIGINT) AS yr,
        | o_orderpriority AS priority, CAST(count(*) AS BIGINT) AS cnt
        |FROM orders GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin)),

    // ---- interval "join": events falling inside other users' session
    // windows (concurrent-activity counting). r19 rewrite: NO pairwise
    // join at all. The r18 shape (session day-buckets ⋈ event day-buckets
    // + range filter) was measured QUADRATIC in time density — sf1→sf5
    // exponent 2.09 (33 s → 954 s for 5x data on a fixed 30-day span),
    // because pairs per bucket grow as sessions/day × events/day; at
    // 100 TB the fixed calendar makes that the scale killer, and AQE skew
    // splitting only rebalances the quadratic work, it cannot remove it.
    //
    // Order-statistics shape instead:
    //   n_concurrent(u, s) = G(t1) − G(t0⁻) − own(u, s)
    //   - G(t) = global count of events with ts ≤ t, evaluated at the 2
    //     session boundaries via a UNION of events and boundary markers:
    //     one cumulative-sum window per hour bucket (kind orders a t0
    //     marker BEFORE and a t1 marker AFTER equal-ts events, giving
    //     strict-< and ≤ semantics in one pass) plus a broadcast prefix of
    //     per-bucket totals (the only global step — #buckets rows, tiny).
    //   - own(u, s) is COMPUTED from the per-owner cumulative window
    //     (G_u(t1) − G_u(t0⁻)), never assumed: event_id-ordered sessions
    //     can time-overlap, so "own events in [t0, t1] = the session's own
    //     rows" is false in general (IntervalPrefixSumSpec's
    //     overlapping-sessions fixture pins exactly that trap).
    // O(n log n) shuffle-sort on linear data, hour-bucket parallel (720
    // partitions on this 30-day span, proportional to the span at scale);
    // no join whose input grows faster than the data. Oracle unchanged —
    // DuckDB's plain range join over the same session derivation; verified
    // row-identical to the pairwise shape at sf0.01/sf0.1/sf1.0/sf5.0
    // (IntervalPrefixSumSpec pins the old-vs-new differential on skewed
    // and uniform fixtures). Salting history (r16) and the AQE skew-join
    // evidence (2.4x on a 70%-hot-day fixture) live in IntervalSkewJoinSpec
    // and the README's design notes — still
    // load-bearing for the OTHER bucket-join shapes in the engine. ----
    Q("q38_interval_join", (s, dir) => {
      import s.implicits._
      val ev = eventsNs(s, dir).select($"event_id", $"user_id", $"ts")
      intervalConcurrency(ev)
        .orderBy($"user_id", $"session_idx")
    }, Some(
      """WITH ev AS (
        |  SELECT event_id, user_id, epoch_ns(ts) AS tns FROM events
        |), marks AS (
        |  SELECT user_id, event_id, tns,
        |    CASE WHEN lag(tns) OVER w IS NULL
        |      OR tns - lag(tns) OVER w > 3600000000000 THEN 1 ELSE 0 END
        |      AS new_session
        |  FROM ev WINDOW w AS (PARTITION BY user_id ORDER BY event_id)
        |), sess AS (
        |  SELECT user_id, session_idx, min(tns) AS t0, max(tns) AS t1 FROM (
        |    SELECT user_id, tns, sum(new_session) OVER (
        |      PARTITION BY user_id ORDER BY event_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_idx
        |    FROM marks)
        |  GROUP BY 1, 2
        |)
        |SELECT CAST(s.user_id AS BIGINT) AS user_id,
        | CAST(s.session_idx AS BIGINT) AS session_idx,
        | CAST(count(e.tns) AS BIGINT) AS n_concurrent
        |FROM sess s LEFT JOIN ev e
        |  ON e.tns BETWEEN s.t0 AND s.t1 AND e.user_id <> s.user_id
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin), bench = true)
  )
}
