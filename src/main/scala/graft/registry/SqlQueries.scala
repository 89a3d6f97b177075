package graft.registry

import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.io.Tables.table

/** Relational registry queries over the TPC-H-shaped tables and
  * `events` (SURVEY.md §2 ids cited per query).
  *
  * Numeric determinism: double sums are computed through exact DECIMAL
  * aggregation ([[dsum]]) and only then cast back to DOUBLE, so Spark's
  * partial aggregation order and DuckDB's single-threaded order give
  * bit-identical results.
  */
object SqlQueries {

  /** Exact decimal sum of a double column, returned as double. */
  private def dsum(c: org.apache.spark.sql.Column) =
    sum(c.cast("decimal(18,2)")).cast("double")

  val queries: Seq[Query] = Seq(
    // A1/A3-style multi-agg with exact decimal arithmetic (TPC-H Q1 shape).
    Query("q1_agg", (s, dir) => {
      table(s, dir, "lineitem")
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
          dsum(col("l_quantity")).as("sum_qty"),
          dsum(col("l_extendedprice")).as("sum_base_price"),
          sum(col("l_extendedprice").cast("decimal(18,2)") *
              (lit(BigDecimal(1)).cast("decimal(18,2)") -
               col("l_discount").cast("decimal(18,2)")))
            .cast("double").as("sum_disc_price"),
          count(lit(1)).as("count_order"))
        .orderBy("l_returnflag", "l_linestatus")
    }, """SELECT l_returnflag, l_linestatus,
        |CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
        |CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_base_price,
        |CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS sum_disc_price,
        |COUNT(*) AS count_order
        |FROM lineitem GROUP BY l_returnflag, l_linestatus
        |ORDER BY l_returnflag, l_linestatus""".stripMargin),

    // J-family relational join: broadcast dims (customer is small), one
    // shuffle on the fact side only. At 100 TB the dim stays broadcast.
    Query("q2_join_broadcast", (s, dir) => {
      val li = table(s, dir, "lineitem")
      val o = table(s, dir, "orders")
      val c = table(s, dir, "customer")
      li.join(o, li("l_orderkey") === o("o_orderkey"))
        .join(broadcast(c), o("o_custkey") === c("c_custkey"))
        .groupBy("c_mktsegment")
        .agg(
          sum((col("l_extendedprice").cast("decimal(18,2)") *
               (lit(BigDecimal(1)).cast("decimal(18,2)") -
                col("l_discount").cast("decimal(18,2)"))))
            .cast("double").as("revenue"),
          count(lit(1)).as("n_lines"))
        .orderBy("c_mktsegment")
    }, """SELECT c_mktsegment,
        |CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS revenue,
        |COUNT(*) AS n_lines
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin),

    // O/W-family: ranking window, top-3 parts per supplier by price.
    Query("q3_window_topk", (s, dir) => {
      val w = Window.partitionBy("l_suppkey")
        .orderBy(col("l_extendedprice").desc, col("l_orderkey").asc,
                 col("l_linenumber").asc)
      table(s, dir, "lineitem")
        .withColumn("rk", row_number().over(w))
        .filter(col("rk") <= 3)
        .select("l_suppkey", "rk", "l_orderkey", "l_linenumber",
                "l_extendedprice")
        .orderBy("l_suppkey", "rk")
    }, """SELECT l_suppkey, rk, l_orderkey, l_linenumber, l_extendedprice FROM (
        |SELECT l_suppkey, l_orderkey, l_linenumber, l_extendedprice,
        |ROW_NUMBER() OVER (PARTITION BY l_suppkey ORDER BY l_extendedprice DESC, l_orderkey ASC, l_linenumber ASC) AS rk
        |FROM lineitem) WHERE rk <= 3 ORDER BY l_suppkey, rk""".stripMargin),

    // J-family semi + anti joins: per segment, customers with vs without
    // at least one urgent order (left_semi / left_anti against the same
    // filtered build side — filter is pushed below the join).
    Query("q4_semi_anti", (s, dir) => {
      val c = table(s, dir, "customer")
      val urgent = table(s, dir, "orders")
        .filter(col("o_orderpriority") === "1-URGENT")
      val withU = c.join(urgent, c("c_custkey") === urgent("o_custkey"),
          "left_semi")
        .groupBy("c_mktsegment").agg(count(lit(1)).as("with_urgent"))
      val withoutU = c.join(urgent, c("c_custkey") === urgent("o_custkey"),
          "left_anti")
        .groupBy("c_mktsegment").agg(count(lit(1)).as("without_urgent"))
      withU.join(withoutU, Seq("c_mktsegment"), "full_outer")
        .na.fill(0L, Seq("with_urgent", "without_urgent"))
        .orderBy("c_mktsegment")
    }, """SELECT c_mktsegment,
        |COUNT(*) FILTER (WHERE has_u) AS with_urgent,
        |COUNT(*) FILTER (WHERE NOT has_u) AS without_urgent
        |FROM (SELECT c_mktsegment, EXISTS(SELECT 1 FROM orders
        |  WHERE o_custkey = c_custkey AND o_orderpriority = '1-URGENT') AS has_u
        |  FROM customer)
        |GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin),

    // Grouping-sets / rollup with subtotal rows (absent in the
    // reference; standard engine capability). NULL subtotal markers are
    // coalesced to 'ALL' on both sides so ordering is
    // null-position-independent between Spark and DuckDB.
    Query("q5_rollup", (s, dir) => {
      table(s, dir, "orders")
        .rollup("o_orderstatus", "o_orderpriority")
        .agg(count(lit(1)).as("n_orders"),
          dsum(col("o_totalprice")).as("sum_price"))
        .select(
          coalesce(col("o_orderstatus"), lit("ALL")).as("status"),
          coalesce(col("o_orderpriority"), lit("ALL")).as("priority"),
          col("n_orders"), col("sum_price"))
        .orderBy("status", "priority")
    }, """SELECT COALESCE(o_orderstatus, 'ALL') AS status,
        |COALESCE(o_orderpriority, 'ALL') AS priority,
        |COUNT(*) AS n_orders,
        |CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price
        |FROM orders GROUP BY ROLLUP (o_orderstatus, o_orderpriority)
        |ORDER BY status, priority""".stripMargin),

    // W1-analog sessionization over events: session = gap > 30 min,
    // lag + running sum (the reference's block-change segmentation shape).
    Query("q6_events_session", (s, dir) => {
      val byUser = Window.partitionBy("user_id").orderBy("ts", "event_id")
      table(s, dir, "events")
        .withColumn("prev_ts", lag(col("ts"), 1).over(byUser))
        .withColumn("new_sess",
          when(col("prev_ts").isNull ||
               unix_timestamp(col("ts")) - unix_timestamp(col("prev_ts")) > 1800,
               1L).otherwise(0L))
        .withColumn("sess_id", sum(col("new_sess")).over(
          byUser.rowsBetween(Window.unboundedPreceding, 0)))
        .groupBy("user_id", "sess_id")
        .agg(count(lit(1)).as("n_events"),
             dsum(col("value")).as("sess_value"))
        .orderBy("user_id", "sess_id")
    }, """WITH g AS (
        |SELECT user_id, ts, event_id, value,
        |CASE WHEN LAG(ts) OVER w IS NULL
        |     OR DATE_DIFF('second', LAG(ts) OVER w, ts) > 1800 THEN 1 ELSE 0 END AS new_sess
        |FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
        |s AS (
        |SELECT user_id, value,
        |CAST(SUM(new_sess) OVER (PARTITION BY user_id ORDER BY ts, event_id ROWS UNBOUNDED PRECEDING) AS BIGINT) AS sess_id
        |FROM g)
        |SELECT user_id, sess_id, COUNT(*) AS n_events,
        |CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sess_value
        |FROM s GROUP BY user_id, sess_id ORDER BY user_id, sess_id""".stripMargin)
  )
}
