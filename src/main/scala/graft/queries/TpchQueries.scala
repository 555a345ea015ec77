package graft
package queries

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.datapipe.{Sessions, Skew}
import graft.SparkEntry.{li, rawEvents}

/** Relational queries: the TPC-H-flavoured scans, joins and
  * aggregates over lineitem/orders/customer, plus the skew-salted join
  * and sessionization over the event log.
  */
object TpchQueries {

  val specs: Seq[QuerySpec] = Seq(
    // -- relational substrate (TPC-H-flavored; exercises scan/agg/join) --
    QuerySpec("q01_pricing", (s, dir) => {
      li(s, dir).groupBy("l_returnflag", "l_linestatus").agg(
        round(sum("l_quantity"), 0).as("sum_qty"),
        round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 0).as("revenue"),
        round(avg("l_quantity") + 1e-7, 4).as("avg_qty"),
        count(lit(1)).as("n_rows"))
    },
      """SELECT l_returnflag, l_linestatus,
        |       round(sum(l_quantity), 0) AS sum_qty,
        |       round(sum(l_extendedprice * (1 - l_discount)), 0) AS revenue,
        |       round(avg(l_quantity) + 1e-7, 4) AS avg_qty,
        |       count(*) AS n_rows
        |FROM lineitem GROUP BY l_returnflag, l_linestatus""".stripMargin),
    QuerySpec("q02_priority_revenue", (s, dir) => {
      ord(s, dir).join(li(s, dir), col("o_orderkey") === col("l_orderkey"))
        .groupBy("o_orderpriority").agg(
          round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 0).as("revenue"),
          countDistinct("o_orderkey").as("n_orders"))
    },
      """SELECT o_orderpriority,
        |       round(sum(l_extendedprice * (1 - l_discount)), 0) AS revenue,
        |       count(DISTINCT o_orderkey) AS n_orders
        |FROM orders JOIN lineitem ON o_orderkey = l_orderkey
        |GROUP BY o_orderpriority""".stripMargin),
    // predicate-pushdown showcase: every filter reaches the parquet
    // scan (PushedFilters), only 4 columns read
    QuerySpec("q06_banded_revenue", (s, dir) => {
      li(s, dir)
        .filter(col("l_shipdate") >= lit("1994-01-01").cast("timestamp") &&
          col("l_shipdate") < lit("1996-01-01").cast("timestamp") &&
          col("l_discount").between(0.02, 0.08) && col("l_quantity") < 24)
        .agg(round(sum(col("l_extendedprice") * col("l_discount")), 2).as("revenue"),
          count(lit(1)).as("n_rows"))
    },
      """SELECT round(sum(l_extendedprice * l_discount), 2) AS revenue, count(*) AS n_rows
        |FROM lineitem
        |WHERE l_shipdate >= TIMESTAMP '1994-01-01' AND l_shipdate < TIMESTAMP '1996-01-01'
        |  AND l_discount BETWEEN 0.02 AND 0.08 AND l_quantity < 24""".stripMargin),
    QuerySpec("q07_orders_no_items", (s, dir) => {
      // anti join: orders with no lineitem rows, counted by priority
      ord(s, dir).join(li(s, dir), col("o_orderkey") === col("l_orderkey"), "left_anti")
        .groupBy("o_orderpriority").agg(count(lit(1)).as("n_orders"))
    },
      """SELECT o_orderpriority, count(*) AS n_orders
        |FROM orders WHERE NOT EXISTS (
        |  SELECT 1 FROM lineitem WHERE l_orderkey = o_orderkey)
        |GROUP BY o_orderpriority""".stripMargin),
    QuerySpec("q04_orders_with_items", (s, dir) => {
      // the semi-join complement of q07
      ord(s, dir).join(li(s, dir), col("o_orderkey") === col("l_orderkey"), "left_semi")
        .groupBy("o_orderpriority").agg(count(lit(1)).as("n_orders"))
    },
      """SELECT o_orderpriority, count(*) AS n_orders
        |FROM orders WHERE EXISTS (
        |  SELECT 1 FROM lineitem WHERE l_orderkey = o_orderkey)
        |GROUP BY o_orderpriority""".stripMargin),
    QuerySpec("q05_top_customers", (s, dir) => {
      // ranking window over a multi-join aggregate: top-3 customers by
      // revenue within each region (ties broken by name for
      // cross-engine determinism)
      val rev = li(s, dir)
        .join(ord(s, dir), col("l_orderkey") === col("o_orderkey"))
        .join(broadcast(cust(s, dir)), col("o_custkey") === col("c_custkey"))
        .join(broadcast(nat(s, dir)), col("c_nationkey") === col("n_nationkey"))
        .join(broadcast(reg(s, dir)), col("n_regionkey") === col("r_regionkey"))
        .groupBy("r_name", "c_name")
        .agg(round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 0).as("revenue"))
      val w = Window.partitionBy("r_name").orderBy(col("revenue").desc, col("c_name").asc)
      rev.withColumn("rnk", row_number().over(w)).filter(col("rnk") <= 3)
    },
      """SELECT r_name, c_name, revenue, rnk FROM (
        |  SELECT r_name, c_name,
        |         round(sum(l_extendedprice * (1 - l_discount)), 0) AS revenue,
        |         row_number() OVER (
        |           PARTITION BY r_name
        |           ORDER BY round(sum(l_extendedprice * (1 - l_discount)), 0) DESC,
        |                    c_name ASC) AS rnk
        |  FROM lineitem
        |  JOIN orders ON l_orderkey = o_orderkey
        |  JOIN customer ON o_custkey = c_custkey
        |  JOIN nation ON c_nationkey = n_nationkey
        |  JOIN region ON n_regionkey = r_regionkey
        |  GROUP BY r_name, c_name
        |) WHERE rnk <= 3""".stripMargin),
    QuerySpec("q03_region_revenue", (s, dir) => {
      li(s, dir)
        .join(ord(s, dir), col("l_orderkey") === col("o_orderkey"))
        .join(broadcast(cust(s, dir)), col("o_custkey") === col("c_custkey"))
        .join(broadcast(nat(s, dir)), col("c_nationkey") === col("n_nationkey"))
        .join(broadcast(reg(s, dir)), col("n_regionkey") === col("r_regionkey"))
        .groupBy("r_name").agg(
          round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 0).as("revenue"),
          count(lit(1)).as("n_items"))
    },
      """SELECT r_name,
        |       round(sum(l_extendedprice * (1 - l_discount)), 0) AS revenue,
        |       count(*) AS n_items
        |FROM lineitem
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |JOIN nation ON c_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey
        |GROUP BY r_name""".stripMargin),

    // -- sessionization (behavioral grouping over the raw event log) --
    QuerySpec("q_sessionize", (s, dir) =>
      Sessions.sessionize(rawEvents(s, dir), gapSec = 28800)
        .select(col("event_id"), col("user_id"), col("session_seq")),
      // -- sessionization: lag/running-sum boundary detection replayed
      // verbatim; all arithmetic on exact integer microseconds --
      s"""WITH $SESS
         |SELECT event_id, user_id, session_seq FROM sess""".stripMargin),
    QuerySpec("q_session_stats", (s, dir) =>
      Sessions.sessionStats(rawEvents(s, dir), gapSec = 28800)
        .select(col("user_id"), col("session_seq"), col("n_events"),
          col("dur_sec"), round(col("sum_value") + 1e-7, 4).as("sum_value")),
      s"""WITH $SESS
         |SELECT user_id, session_seq, count(*) AS n_events,
         |       (max(us) - min(us)) / 1000000.0 AS dur_sec,
         |       round(sum(value) + 1e-7, 4) AS sum_value
         |FROM sess GROUP BY user_id, session_seq""".stripMargin),

    // -- skew-salted join --
    QuerySpec("q_salted_join", (s, dir) => {
      // 5 event types into 32 shuffle partitions = 27 idle tasks and 5
      // hot ones; salting ×8 spreads each key over 8 sub-keys (result
      // provably identical to the plain join — the oracle IS the
      // plain join; Round13Spec pins the partition-balance claim)
      val e = rawEvents(s, dir).select(col("event_id"), col("event_type"),
        col("value"))
      val dim = e.groupBy("event_type").agg(avg("value").as("type_avg"))
      Skew.saltedJoin(e, dim, "event_type", salts = 8)
        .groupBy("event_type")
        .agg(count(lit(1)).as("n"),
          round(sum(abs(col("value") - col("type_avg"))) + 1e-7, 2).as("sum_absdev"))
    },
      // salting is result-invariant: the oracle IS the plain join
      saltedJoinSql)
  )

  private def ord(s: SparkSession, dir: String) = s.read.parquet(s"$dir/orders.parquet")
  private def cust(s: SparkSession, dir: String) = s.read.parquet(s"$dir/customer.parquet")
  private def nat(s: SparkSession, dir: String) = s.read.parquet(s"$dir/nation.parquet")
  private def reg(s: SparkSession, dir: String) = s.read.parquet(s"$dir/region.parquet")

  /** Sessionized event log (8 h gap), shared by the session oracles.
    * Mirrors Sessions.sessionize: lag + running sum over the per-user
    * (ts, event_id)-ordered window, exact integer microseconds.
    */
  private val SESS =
    """e AS (
      |  SELECT event_id, user_id, value, epoch_us(ts) AS us,
      |         lag(epoch_us(ts)) OVER (PARTITION BY user_id ORDER BY epoch_us(ts), event_id) AS prev
      |  FROM events
      |),
      |sess AS (
      |  SELECT event_id, user_id, us, value,
      |         CAST(sum(CASE WHEN prev IS NULL OR us - prev > 28800000000 THEN 1 ELSE 0 END)
      |           OVER (PARTITION BY user_id ORDER BY us, event_id
      |                 ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_seq
      |  FROM e
      |)""".stripMargin

  private lazy val saltedJoinSql =
    """WITH dim AS (SELECT event_type, avg(value) AS type_avg FROM events GROUP BY 1)
      |SELECT e.event_type, count(*) AS n,
      |       round(sum(abs(e.value - d.type_avg)) + 1e-7, 2) AS sum_absdev
      |FROM events e JOIN dim d USING (event_type)
      |GROUP BY e.event_type""".stripMargin
}
