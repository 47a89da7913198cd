package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.core.Tables

/** Analytics query set over the TPC-H-ish tables and `events`.
  *
  * Each query has one DuckDB oracle text. Most queries ARE that text: the
  * registry runs it through `spark.sql` ([[sqlText]]), so one definition
  * serves both engines. A query keeps a hand-written DataFrame plan only
  * with its reason on its doc:
  *  - the SQL-vs-hand A/B (`bench/sql_ab_sf0.1.jsonl`, `bench/sql_ab_sf1.jsonl`):
  *    the SQL arm's median is over 1.15× the hand plan's at sf0.1 or sf1;
  *  - a plan guard (PlanSpec, TopKAggSpec) that its SQL plan fails;
  *  - an oracle text in DuckDB-only functions, which Spark cannot run.
  *
  * The cross-engine determinism rules live in the texts (the driver
  * hash-compares against DuckDB), and the hand plans follow them: sums go
  * through exact DECIMAL casts with only the final value cast to double,
  * averages are decimal-sum / count in double, and top-k ties are broken by
  * explicit unique keys.
  *
  * In the hand plans, broadcast hints are reserved for BOUNDED dimensions
  * (nation: 25 rows, region: 5); scale-factor-proportional tables
  * (customer/supplier/part) are left to AQE, which broadcasts them at test
  * scale and shuffles them at 100 TB.
  */
object Analytics {

  private def t(s: SparkSession, dir: String, name: String): DataFrame = Tables.load(s, dir, name)
  private def dec(c: org.apache.spark.sql.Column) = c.cast("decimal(12,2)")

  private val TextTables =
    Seq("lineitem", "orders", "customer", "part", "supplier", "nation", "region", "events")

  /** A query that is its SQL text: each table the text names becomes a temp
    * view over `dir` (`Tables.load`; `events` through `Tables.loadEvents`),
    * and the text runs through `spark.sql`. The views bind when the text is
    * analyzed, so a frame keeps its own `dir` after a later call re-points
    * them. The views replace any session temp view of the same name. */
  private[graft] def sqlText(text: String): (SparkSession, String) => DataFrame = (s, dir) => {
    TextTables.filter(n => s"\\b$n\\b".r.findFirstIn(text).isDefined).foreach { n =>
      (if (n == "events") Tables.loadEvents(s, dir) else t(s, dir, n)).createOrReplaceTempView(n)
    }
    s.sql(text)
  }

  /** q1: pricing summary per (returnflag, linestatus) over the shipped lines. */
  def q1OracleSql: String =
    """SELECT l_returnflag, l_linestatus,
      | CAST(SUM(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) AS sum_qty,
      | CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))) AS DOUBLE) AS sum_base_price,
      | CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2)) * (CAST(1 AS DECIMAL(12,2)) - CAST(l_discount AS DECIMAL(12,2)))) AS DOUBLE) AS sum_disc_price,
      | CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2)) * (CAST(1 AS DECIMAL(12,2)) - CAST(l_discount AS DECIMAL(12,2))) * (CAST(1 AS DECIMAL(12,2)) + CAST(l_tax AS DECIMAL(12,2)))) AS DOUBLE) AS sum_charge,
      | CAST(SUM(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) / COUNT(*) AS avg_qty,
      | CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))) AS DOUBLE) / COUNT(*) AS avg_price,
      | CAST(SUM(CAST(l_discount AS DECIMAL(12,2))) AS DOUBLE) / COUNT(*) AS avg_disc,
      | COUNT(*) AS count_order
      |FROM lineitem
      |WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
      |GROUP BY l_returnflag, l_linestatus""".stripMargin

  /** q6: revenue of one year's lightly discounted small-quantity lines. */
  def q6OracleSql: String =
    """SELECT CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2)) * CAST(l_discount AS DECIMAL(12,2))) AS DOUBLE) AS revenue
      |FROM lineitem
      |WHERE l_shipdate >= TIMESTAMP '1995-01-01 00:00:00'
      |  AND l_shipdate <  TIMESTAMP '1996-01-01 00:00:00'
      |  AND l_discount >= 0.03 AND l_discount <= 0.05
      |  AND l_quantity < 24""".stripMargin

  private def ts(v: String) = lit(java.sql.Timestamp.valueOf(v))

  /** q3: shipping priority — fact-side filters first, dimension broadcast.
    * Kept as a hand plan: its SQL text's median is 1.85× this plan's at sf0.1
    * and 0.97× at sf1 (`bench/sql_ab_*.jsonl`). */
  def q3Priority(s: SparkSession, dir: String): DataFrame = {
    val cust = t(s, dir, "customer").filter(col("c_mktsegment") === "BUILDING").select("c_custkey")
    val ord = t(s, dir, "orders").filter(col("o_orderdate") < ts("1995-03-15 00:00:00"))
      .select("o_orderkey", "o_custkey", "o_orderdate", "o_orderpriority")
    val li = t(s, dir, "lineitem").filter(col("l_shipdate") > ts("1995-03-15 00:00:00"))
      .select("l_orderkey", "l_extendedprice", "l_discount")
    li.join(ord, col("l_orderkey") === col("o_orderkey"))
      .join(cust, col("o_custkey") === col("c_custkey"))
      .groupBy(col("l_orderkey"), col("o_orderdate"), col("o_orderpriority"))
      .agg(sum(dec(col("l_extendedprice")) * (lit(1).cast("decimal(12,2)") - dec(col("l_discount")))).cast("double").as("revenue"))
      .orderBy(col("revenue").desc, col("l_orderkey"))
      .limit(10)
  }

  val q3OracleSql: String =
    """SELECT l_orderkey, o_orderdate, o_orderpriority,
      | CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2)) * (CAST(1 AS DECIMAL(12,2)) - CAST(l_discount AS DECIMAL(12,2)))) AS DOUBLE) AS revenue
      |FROM customer, orders, lineitem
      |WHERE c_mktsegment = 'BUILDING' AND c_custkey = o_custkey AND l_orderkey = o_orderkey
      |  AND o_orderdate < TIMESTAMP '1995-03-15 00:00:00' AND l_shipdate > TIMESTAMP '1995-03-15 00:00:00'
      |GROUP BY l_orderkey, o_orderdate, o_orderpriority
      |ORDER BY revenue DESC, l_orderkey LIMIT 10""".stripMargin

  /** q5: 5-way star join — small dims broadcast, single shuffle on the fact keys.
    * Kept as a hand plan: its SQL text's median is 1.66× this plan's at sf0.1
    * and 1.94× at sf1 (`bench/sql_ab_*.jsonl`). */
  def q5Volume(s: SparkSession, dir: String): DataFrame = {
    val region = t(s, dir, "region").filter(col("r_name") === "ASIA")
    val nation = t(s, dir, "nation")
    val supplier = t(s, dir, "supplier")
    val cust = t(s, dir, "customer").select("c_custkey", "c_nationkey")
    val ord = t(s, dir, "orders")
      .filter(col("o_orderdate") >= ts("1996-01-01 00:00:00") && col("o_orderdate") < ts("1997-01-01 00:00:00"))
      .select("o_orderkey", "o_custkey")
    val li = t(s, dir, "lineitem").select("l_orderkey", "l_suppkey", "l_extendedprice", "l_discount")
    li.join(ord, col("l_orderkey") === col("o_orderkey"))
      .join(cust, col("o_custkey") === col("c_custkey"))
      .join(supplier, col("l_suppkey") === col("s_suppkey") && col("c_nationkey") === col("s_nationkey"))
      .join(broadcast(nation), col("s_nationkey") === col("n_nationkey"))
      .join(broadcast(region), col("n_regionkey") === col("r_regionkey"))
      .groupBy(col("n_name"))
      .agg(sum(dec(col("l_extendedprice")) * (lit(1).cast("decimal(12,2)") - dec(col("l_discount")))).cast("double").as("revenue"))
  }

  val q5OracleSql: String =
    """SELECT n_name,
      | CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2)) * (CAST(1 AS DECIMAL(12,2)) - CAST(l_discount AS DECIMAL(12,2)))) AS DOUBLE) AS revenue
      |FROM customer, orders, lineitem, supplier, nation, region
      |WHERE c_custkey = o_custkey AND l_orderkey = o_orderkey AND l_suppkey = s_suppkey
      |  AND c_nationkey = s_nationkey AND s_nationkey = n_nationkey AND n_regionkey = r_regionkey
      |  AND r_name = 'ASIA'
      |  AND o_orderdate >= TIMESTAMP '1996-01-01 00:00:00' AND o_orderdate < TIMESTAMP '1997-01-01 00:00:00'
      |GROUP BY n_name""".stripMargin

  /** q10: returned items report — join + agg + deterministic top-20.
    * Kept as a hand plan: its SQL text's median is 1.17× this plan's at sf0.1
    * and 1.42× at sf1 (`bench/sql_ab_*.jsonl`). */
  def q10Returns(s: SparkSession, dir: String): DataFrame = {
    val cust = t(s, dir, "customer")
    val nation = t(s, dir, "nation")
    val ord = t(s, dir, "orders")
      .filter(col("o_orderdate") >= ts("1996-10-01 00:00:00") && col("o_orderdate") < ts("1997-01-01 00:00:00"))
      .select("o_orderkey", "o_custkey")
    val li = t(s, dir, "lineitem").filter(col("l_returnflag") === "R")
      .select("l_orderkey", "l_extendedprice", "l_discount")
    li.join(ord, col("l_orderkey") === col("o_orderkey"))
      .join(cust, col("o_custkey") === col("c_custkey"))
      .join(broadcast(nation), col("c_nationkey") === col("n_nationkey"))
      .groupBy(col("c_custkey"), col("c_name"), col("c_acctbal"), col("n_name"))
      .agg(sum(dec(col("l_extendedprice")) * (lit(1).cast("decimal(12,2)") - dec(col("l_discount")))).cast("double").as("revenue"))
      .orderBy(col("revenue").desc, col("c_custkey"))
      .limit(20)
  }

  val q10OracleSql: String =
    """SELECT c_custkey, c_name, c_acctbal, n_name,
      | CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2)) * (CAST(1 AS DECIMAL(12,2)) - CAST(l_discount AS DECIMAL(12,2)))) AS DOUBLE) AS revenue
      |FROM customer, orders, lineitem, nation
      |WHERE c_custkey = o_custkey AND l_orderkey = o_orderkey AND c_nationkey = n_nationkey
      |  AND o_orderdate >= TIMESTAMP '1996-10-01 00:00:00' AND o_orderdate < TIMESTAMP '1997-01-01 00:00:00'
      |  AND l_returnflag = 'R'
      |GROUP BY c_custkey, c_name, c_acctbal, n_name
      |ORDER BY revenue DESC, c_custkey LIMIT 20""".stripMargin

  /** q12: high- and low-priority line counts per line status, 1996 shipments. */
  val q12OracleSql: String =
    """SELECT l_linestatus,
      | CAST(SUM(CASE WHEN o_orderpriority IN ('1-URGENT','2-HIGH') THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
      | CAST(SUM(CASE WHEN o_orderpriority NOT IN ('1-URGENT','2-HIGH') THEN 1 ELSE 0 END) AS BIGINT) AS low_line_count
      |FROM orders, lineitem
      |WHERE o_orderkey = l_orderkey
      |  AND l_shipdate >= TIMESTAMP '1996-01-01 00:00:00' AND l_shipdate < TIMESTAMP '1997-01-01 00:00:00'
      |GROUP BY l_linestatus""".stripMargin

  /** Top-3 orders per customer by total price, ties broken by order key. */
  val topkOracleSql: String =
    """SELECT o_custkey, o_orderkey, o_totalprice, rk FROM (
      | SELECT o_custkey, o_orderkey, o_totalprice,
      |        row_number() OVER (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey) AS rk
      | FROM orders) x
      |WHERE rk <= 3""".stripMargin

  /** Customers with no order before 1996-01-01. The cutoff keeps the result
    * data-dependent: every customer has some order in this corpus, so an
    * unfiltered anti join would pass vacuously. */
  val antiNoOrdersSql: String =
    """SELECT c_custkey, c_name FROM customer
      |WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey
      |                  AND o_orderdate < TIMESTAMP '1996-01-01 00:00:00')""".stripMargin

  /** Hourly event counts, distinct users and value sums per event type. */
  val eventsHourlySql: String =
    """SELECT date_trunc('hour', ts) AS hour, event_type,
      | COUNT(*) AS n_events,
      | COUNT(DISTINCT user_id) AS n_users,
      | CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS sum_value
      |FROM events GROUP BY 1, 2""".stripMargin

  /** gap-based sessionization (30 min) — lag + cumulative boundary counting.
    * Kept as a hand plan: its SQL text's median is 1.45× this plan's at sf0.1
    * and 1.03× at sf1 (`bench/sql_ab_*.jsonl`). */
  def eventsSessions(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val byUser = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    val cum = byUser.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    // Fixed-wave key clustering (Tables.clusterBy rationale): the window's
    // own exchange would be AQE-sized to ONE wave, making every per-user
    // sort task wall-sized (sf10 stress: 34 tasks, 2-4 s max task). The
    // explicit 4×cores partitioning satisfies the window's required
    // distribution AND the downstream groupBy(user_id, session_id)
    // (partitioning on a subset of the grouping keys), so this remains the
    // query's ONLY exchange — same bytes, wave-bounded stragglers.
    Tables.clusterBy(
        Tables.loadEvents(s, dir).select(col("user_id"), col("ts"), col("event_id")),
        "user_id")
      .select(col("user_id"), col("ts"), col("event_id"), lag(col("ts"), 1).over(byUser).as("prev_ts"))
      .withColumn(
        "is_new",
        when(col("prev_ts").isNull || unix_micros(col("ts")) - unix_micros(col("prev_ts")) > 1800L * 1000000L, 1L).otherwise(0L)
      )
      .withColumn("session_id", sum(col("is_new")).over(cum))
      .groupBy(col("user_id"), col("session_id"))
      .agg(count(lit(1)).as("n_events"), min(col("ts")).as("session_start"), max(col("ts")).as("session_end"))
  }

  val eventsSessionsSql: String =
    """WITH e AS (
      |  SELECT user_id, ts, event_id, lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_ts
      |  FROM events),
      | s AS (
      |  SELECT user_id, ts,
      |         CAST(SUM(CASE WHEN prev_ts IS NULL OR ts - prev_ts > INTERVAL 30 MINUTE THEN 1 ELSE 0 END)
      |           OVER (PARTITION BY user_id ORDER BY ts, event_id ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_id
      |  FROM e)
      |SELECT user_id, session_id, COUNT(*) AS n_events, MIN(ts) AS session_start, MAX(ts) AS session_end
      |FROM s GROUP BY user_id, session_id""".stripMargin

  /** q7: revenue per (supplier nation, customer nation, ship year) over
    * 1996–1997; `l_year` is BIGINT. */
  val q7OracleSql: String =
    """SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
      | CAST(year(l_shipdate) AS BIGINT) AS l_year,
      | CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2)) * (CAST(1 AS DECIMAL(12,2)) - CAST(l_discount AS DECIMAL(12,2)))) AS DOUBLE) AS revenue
      |FROM lineitem, orders, supplier, customer, nation n1, nation n2
      |WHERE l_orderkey = o_orderkey AND l_suppkey = s_suppkey AND o_custkey = c_custkey
      |  AND s_nationkey = n1.n_nationkey AND c_nationkey = n2.n_nationkey
      |  AND l_shipdate >= TIMESTAMP '1996-01-01 00:00:00' AND l_shipdate < TIMESTAMP '1998-01-01 00:00:00'
      |GROUP BY 1, 2, 3""".stripMargin

  /** q13: customer order-count distribution — 0-order customers preserved.
    * Orders are pre-aggregated by `o_custkey` BEFORE the customer join
    * (map-side combine collapses the fact to ≤|customer| partials), so the
    * left join probes a customer-sized build instead of streaming every
    * order row through it; absent keys coalesce to 0, keeping the left-join
    * semantics. At 100 TB this removes the orders-sized join input — the
    * only fact-sized exchange left is the combine-shrunk count shuffle.
    * Kept as a hand plan: its SQL plan fails PlanSpec "q13: orders
    * pre-aggregate sits BELOW the left join". */
  def q13Custdist(s: SparkSession, dir: String): DataFrame = {
    val perCust = t(s, dir, "orders").select("o_custkey")
      .groupBy(col("o_custkey")).agg(count(lit(1)).as("o_cnt"))
    t(s, dir, "customer").select("c_custkey")
      .join(perCust, col("c_custkey") === col("o_custkey"), "left")
      .select(coalesce(col("o_cnt"), lit(0L)).as("c_count"))
      .groupBy(col("c_count"))
      .agg(count(lit(1)).as("custdist"))
  }

  val q13OracleSql: String =
    """SELECT c_count, COUNT(*) AS custdist FROM (
      |  SELECT c_custkey, COUNT(o_orderkey) AS c_count
      |  FROM customer LEFT JOIN orders ON c_custkey = o_custkey
      |  GROUP BY c_custkey) x
      |GROUP BY c_count""".stripMargin

  /** q14: promotion share of one month's discounted revenue. */
  val q14OracleSql: String =
    """SELECT CAST(SUM(CASE WHEN p_type = 'PROMO'
      |   THEN CAST(l_extendedprice AS DECIMAL(12,2)) * (CAST(1 AS DECIMAL(12,2)) - CAST(l_discount AS DECIMAL(12,2)))
      |   ELSE CAST(0 AS DECIMAL(12,2)) END) AS DOUBLE) * 100.0
      | / CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2)) * (CAST(1 AS DECIMAL(12,2)) - CAST(l_discount AS DECIMAL(12,2)))) AS DOUBLE) AS promo_revenue
      |FROM lineitem, part
      |WHERE l_partkey = p_partkey
      |  AND l_shipdate >= TIMESTAMP '1996-09-01 00:00:00' AND l_shipdate < TIMESTAMP '1996-10-01 00:00:00'""".stripMargin

  /** q17: small-quantity-order revenue for one brand — per-part average via
    * an unbounded window over the branded rows (ONE fact scan + one
    * partition shuffle; the self-agg-join formulation scans lineitem twice).
    * Same decimal-sum/count arithmetic as the oracle's CTE version.
    * Kept as a hand plan: its SQL plan fails PlanSpec "q17: ONE lineitem
    * scan". */
  def q17SmallQty(s: SparkSession, dir: String): DataFrame = {
    val li = t(s, dir, "lineitem").select("l_partkey", "l_quantity", "l_extendedprice")
    val brandParts = t(s, dir, "part").filter(col("p_brand") === "Brand#9").select("p_partkey")
    val branded = li.join(brandParts, col("l_partkey") === col("p_partkey"))
    val w = org.apache.spark.sql.expressions.Window.partitionBy(col("l_partkey"))
    branded
      .withColumn("avg_qty", sum(dec(col("l_quantity"))).over(w).cast("double") / count(lit(1)).over(w))
      .filter(col("l_quantity") < lit(0.2) * col("avg_qty"))
      .agg((sum(dec(col("l_extendedprice"))).cast("double") / 7.0).as("avg_yearly"))
  }

  val q17OracleSql: String =
    """WITH branded AS (
      |  SELECT l_partkey, l_quantity, l_extendedprice
      |  FROM lineitem JOIN part ON l_partkey = p_partkey
      |  WHERE p_brand = 'Brand#9'),
      | a AS (
      |  SELECT l_partkey AS ap_partkey,
      |         CAST(SUM(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) / COUNT(*) AS avg_qty
      |  FROM branded GROUP BY 1)
      |SELECT CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))) AS DOUBLE) / 7.0 AS avg_yearly
      |FROM branded JOIN a ON l_partkey = ap_partkey
      |WHERE l_quantity < 0.2 * avg_qty""".stripMargin

  /** q18: the top-20 orders whose lines sum to more than 150 units. */
  val q18OracleSql: String =
    """SELECT c_name, c_custkey, o_orderkey, o_orderdate, o_totalprice, sum_qty FROM (
      |  SELECT l_orderkey AS q_orderkey,
      |         CAST(SUM(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) AS sum_qty
      |  FROM lineitem GROUP BY 1) q
      |JOIN orders ON o_orderkey = q_orderkey
      |JOIN customer ON o_custkey = c_custkey
      |WHERE sum_qty > 150.0
      |ORDER BY o_totalprice DESC, o_orderkey LIMIT 20""".stripMargin

  /** q4 shape: orders per priority in 1996 with at least one line discounted
    * above 8% (the corpus has no commit or receipt dates for q4's own
    * predicate). */
  val q4OracleSql: String =
    """SELECT o_orderpriority, CAST(COUNT(*) AS BIGINT) AS order_count
      |FROM orders
      |WHERE o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
      |  AND o_orderdate < TIMESTAMP '1997-01-01 00:00:00'
      |  AND EXISTS (SELECT 1 FROM lineitem
      |              WHERE l_orderkey = o_orderkey AND l_discount > 0.08)
      |GROUP BY o_orderpriority""".stripMargin

  /** q19 shape: discounted revenue under a disjunction of brand, size and
    * quantity conjunctions. */
  val q19OracleSql: String =
    """SELECT CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))
      |               * (CAST(1 AS DECIMAL(12,2)) - CAST(l_discount AS DECIMAL(12,2)))) AS DOUBLE) AS revenue
      |FROM lineitem JOIN part ON l_partkey = p_partkey
      |WHERE (p_brand = 'Brand#1' AND p_size BETWEEN 1 AND 15 AND l_quantity BETWEEN 1 AND 20)
      |   OR (p_brand = 'Brand#3' AND p_size BETWEEN 10 AND 30 AND l_quantity BETWEEN 10 AND 35)""".stripMargin

  /** q22-shape: rich idle customers — above-global-average balance, zero
    * orders, rolled up by nation. The global average is a scalar-subquery
    * aggregate: one tiny all-reduce broadcast to every filter task (no
    * data-sized shuffle), then anti join against order keys, then a
    * 25-group rollup. (Canonical q22 buckets by phone country code; this
    * corpus has no phone column, so nation plays that role.)
    * Kept as a hand plan: its SQL plan fails PlanSpec "q22: scalar average
    * broadcast". */
  def q22IdleRich(s: SparkSession, dir: String): DataFrame = {
    val c = t(s, dir, "customer")
    val avgBal = c.filter(col("c_acctbal") > 0.0)
      .agg((sum(dec(col("c_acctbal"))).cast("double") / count(lit(1))).as("a"))
    t(s, dir, "customer")
      .join(broadcast(avgBal))
      .filter(col("c_acctbal") > col("a"))
      .join(t(s, dir, "orders").select(col("o_custkey")),
        col("c_custkey") === col("o_custkey"), "left_anti")
      .join(broadcast(t(s, dir, "nation")), col("c_nationkey") === col("n_nationkey"))
      .groupBy(col("n_name"))
      .agg(
        count(lit(1)).as("numcust"),
        sum(dec(col("c_acctbal"))).cast("double").as("totacctbal"))
  }

  val q22OracleSql: String =
    """SELECT n_name, CAST(COUNT(*) AS BIGINT) AS numcust,
      |       CAST(SUM(CAST(c_acctbal AS DECIMAL(12,2))) AS DOUBLE) AS totacctbal
      |FROM customer JOIN nation ON c_nationkey = n_nationkey
      |WHERE c_acctbal > (SELECT CAST(SUM(CAST(c_acctbal AS DECIMAL(12,2))) AS DOUBLE) / COUNT(*)
      |                   FROM customer WHERE c_acctbal > 0.0)
      |  AND NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
      |GROUP BY n_name""".stripMargin

  /** q8 shape: NATION_3's share of the MEDIUM-part volume bought by ASIA
    * customers, per order year (BIGINT). */
  val q8OracleSql: String =
    """SELECT CAST(year(o_orderdate) AS BIGINT) AS o_year,
      |  CAST(SUM(CASE WHEN n1.n_name = 'NATION_3'
      |        THEN CAST(l_extendedprice AS DECIMAL(12,2)) * (CAST(1 AS DECIMAL(12,2)) - CAST(l_discount AS DECIMAL(12,2)))
      |        ELSE CAST(0 AS DECIMAL(12,2)) END) AS DOUBLE)
      |  / CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2)) * (CAST(1 AS DECIMAL(12,2)) - CAST(l_discount AS DECIMAL(12,2)))) AS DOUBLE)
      |  AS mkt_share
      |FROM lineitem
      |JOIN part ON l_partkey = p_partkey AND p_type = 'MEDIUM'
      |JOIN orders ON l_orderkey = o_orderkey
      |JOIN customer ON o_custkey = c_custkey
      |JOIN nation n2 ON c_nationkey = n2.n_nationkey
      |JOIN region ON n2.n_regionkey = r_regionkey AND r_name = 'ASIA'
      |JOIN supplier ON l_suppkey = s_suppkey
      |JOIN nation n1 ON s_nationkey = n1.n_nationkey
      |WHERE o_orderdate >= TIMESTAMP '1995-01-01 00:00:00'
      |  AND o_orderdate < TIMESTAMP '1997-01-01 00:00:00'
      |GROUP BY 1""".stripMargin

  /** q15-shape: top supplier by quarterly revenue. The max is a one-row
    * aggregate of the (|suppliers|-sized) revenue rollup, broadcast back as
    * a join — no global window sort, no second fact scan. Decimal revenue
    * keeps the max-equality comparison exact in both engines.
    * Kept as a hand plan: its SQL text's median is 1.17× this plan's at sf0.1
    * and 1.04× at sf1 (`bench/sql_ab_*.jsonl`). */
  def q15TopSupplier(s: SparkSession, dir: String): DataFrame = {
    val rev = t(s, dir, "lineitem")
      .filter(col("l_shipdate") >= ts("1996-01-01 00:00:00") && col("l_shipdate") < ts("1996-04-01 00:00:00"))
      .groupBy(col("l_suppkey"))
      .agg(sum(dec(col("l_extendedprice")) * (lit(1).cast("decimal(12,2)") - dec(col("l_discount")))).as("rev"))
    val maxRev = rev.agg(max(col("rev")).as("m"))
    rev.join(broadcast(maxRev), col("rev") === col("m"))
      .join(t(s, dir, "supplier").select("s_suppkey", "s_name"), col("l_suppkey") === col("s_suppkey"))
      .select(col("s_suppkey"), col("s_name"), col("rev").cast("double").as("total_revenue"))
  }

  val q15OracleSql: String =
    """WITH rev AS (
      |  SELECT l_suppkey,
      |         SUM(CAST(l_extendedprice AS DECIMAL(12,2)) * (CAST(1 AS DECIMAL(12,2)) - CAST(l_discount AS DECIMAL(12,2)))) AS rev
      |  FROM lineitem
      |  WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
      |    AND l_shipdate < TIMESTAMP '1996-04-01 00:00:00'
      |  GROUP BY l_suppkey)
      |SELECT s_suppkey, s_name, CAST(rev AS DOUBLE) AS total_revenue
      |FROM rev JOIN supplier ON l_suppkey = s_suppkey
      |WHERE rev = (SELECT MAX(rev) FROM rev)""".stripMargin

  /** Grouping-sets shape: ROLLUP over (returnflag, linestatus). A naive
    * `rollup()` on the fact Expands EVERY row ×3 before the partial
    * aggregate — 3× the aggregation work for identical results, since
    * every rollup measure here is re-aggregable (sums of sums, sum of
    * counts). So: aggregate to the |groups|-sized leaf level first (one
    * ordinary scan + combine), then ROLLUP the leaf rows — Expand touches
    * 6 rows instead of the fact. At 100 TB this is the difference between
    * a 3× fan-out of the scan and a constant-size post-processing step.
    * Kept as a hand plan: its SQL plan fails PlanSpec "sales_rollup: Expand
    * sits ABOVE the leaf aggregate". */
  def salesRollup(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "lineitem")
      .groupBy(col("l_returnflag"), col("l_linestatus"))
      .agg(
        sum(dec(col("l_quantity"))).as("q"),
        sum(dec(col("l_extendedprice")) * (lit(1).cast("decimal(12,2)") - dec(col("l_discount")))).as("d"),
        count(lit(1)).as("c"))
      .rollup(col("l_returnflag"), col("l_linestatus"))
      .agg(
        sum(col("q")).cast("double").as("sum_qty"),
        sum(col("d")).cast("double").as("sum_disc_price"),
        sum(col("c")).as("n_rows"))

  val salesRollupSql: String =
    """SELECT l_returnflag, l_linestatus,
      |  CAST(SUM(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) AS sum_qty,
      |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2)) * (CAST(1 AS DECIMAL(12,2)) - CAST(l_discount AS DECIMAL(12,2)))) AS DOUBLE) AS sum_disc_price,
      |  CAST(COUNT(*) AS BIGINT) AS n_rows
      |FROM lineitem
      |GROUP BY ROLLUP (l_returnflag, l_linestatus)""".stripMargin

  /** Exact discrete quantiles (p50/p90/p99 of `value` per event_type),
    * computed scale-first: a naive window (`row_number() OVER (PARTITION BY
    * event_type ORDER BY value)`) sorts ALL rows within 5 partition keys —
    * 5 tasks own 100 TB. Instead: histogram pruning.
    *   1. per-key min/max/count (one cheap agg);
    *   2. per-(key, bucket) counts over a fixed 4096-bin value histogram —
    *      second agg, map-side combined, histogram is KB-sized;
    *   3. prefix-sum the histogram (window over ≤ 4096·keys rows — metadata,
    *      not data) to find, for each target index floor((n-1)·q)+1, the ONE
    *      bucket containing it;
    *   4. re-scan only rows falling in target buckets (≤ 3 buckets/key,
    *      ~n/4096 rows), sort those few by (value, event_id), and pick
    *      global_rank = bucket_offset + local_rank = target.
    * Equal values always share a bucket, so bucket-local (value, event_id)
    * order extends to the exact global order the oracle's window states.
    * The oracle expresses the SAME selection rule with the naive window —
    * fine at sf0.01, which is the point: semantics identical, algorithm
    * scale-aware.
    * Kept as a hand plan: its SQL plan fails PlanSpec "events_quantiles:
    * histogram + targets broadcast". */
  def eventsQuantiles(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val nBuckets = 4096
    val qs = Seq(("p50", 0.5), ("p90", 0.9), ("p99", 0.99))
    val e = Tables.loadEvents(s, dir).select(col("event_type"), col("value"), col("event_id"))
    val stats = e.groupBy(col("event_type"))
      .agg(min(col("value")).as("vmin"), max(col("value")).as("vmax"), count(lit(1)).as("n"))
    // Bucket index: monotone in value, equal values collide, degenerate
    // vmin==vmax key collapses to bucket 0.
    val bkt = when(col("vmax") === col("vmin"), lit(0))
      .otherwise(least(
        lit(nBuckets - 1),
        floor((col("value") - col("vmin")) / ((col("vmax") - col("vmin")) / nBuckets)).cast("int")))
    val bucketed = e.join(broadcast(stats), "event_type").withColumn("bkt", bkt)
    val hist = bucketed.groupBy(col("event_type"), col("bkt")).agg(count(lit(1)).as("c"))
    val cumW = Window.partitionBy(col("event_type")).orderBy(col("bkt"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val withLower = hist.withColumn("lower", coalesce(sum(col("c")).over(cumW), lit(0L)))
    // One (event_type, label, target-index) row per requested quantile.
    val targets = qs.map { case (label, q) =>
      stats.select(
        col("event_type"), lit(label).as("q_label"),
        (floor((col("n") - 1) * lit(q)) + 1).as("ti"))
    }.reduce(_ unionAll _)
    // The single bucket holding each target index. Histogram side is tiny →
    // broadcast; output is ≤ |keys|·|quantiles| rows.
    val targetBuckets = targets
      .join(withLower,
        targets("event_type") === withLower("event_type") &&
          col("ti") > col("lower") && col("ti") <= col("lower") + col("c"))
      .select(targets("event_type"), col("q_label"), col("ti"), col("bkt"), col("lower"))
    // Second pass touches only rows inside target buckets (~n/4096 per key).
    // Rank per (key, quantile label): two targets sharing a bucket duplicate
    // that bucket's rows through the join, and each copy must rank alone.
    val localW = Window.partitionBy(col("event_type"), col("q_label"))
      .orderBy(col("value"), col("event_id"))
    bucketed.join(
        broadcast(targetBuckets.select(col("event_type").as("t_et"), col("q_label"), col("ti"), col("bkt").as("t_bkt"), col("lower"))),
        col("event_type") === col("t_et") && col("bkt") === col("t_bkt"))
      .withColumn("rank", col("lower") + row_number().over(localW))
      .filter(col("rank") === col("ti"))
      .groupBy(col("event_type"))
      .agg(
        max(when(col("q_label") === "p50", col("value"))).as("p50"),
        max(when(col("q_label") === "p90", col("value"))).as("p90"),
        max(when(col("q_label") === "p99", col("value"))).as("p99"))
  }

  val eventsQuantilesSql: String =
    """WITH b AS (
      |  SELECT event_type, value,
      |         ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY value, event_id) AS rn,
      |         COUNT(*) OVER (PARTITION BY event_type) AS n
      |  FROM events)
      |SELECT event_type,
      |  MAX(CASE WHEN rn = FLOOR((n - 1) * CAST(0.5 AS DOUBLE)) + 1 THEN value END) AS p50,
      |  MAX(CASE WHEN rn = FLOOR((n - 1) * CAST(0.9 AS DOUBLE)) + 1 THEN value END) AS p90,
      |  MAX(CASE WHEN rn = FLOOR((n - 1) * CAST(0.99 AS DOUBLE)) + 1 THEN value END) AS p99
      |FROM b GROUP BY event_type""".stripMargin

  /** Funnel: users who viewed, then clicked after their first view, then
    * purchased after that click. */
  val eventsFunnelSql: String =
    """WITH s1 AS (
      |  SELECT user_id, ts, event_type,
      |         MIN(CASE WHEN event_type = 'view' THEN ts END) OVER (PARTITION BY user_id) AS t1
      |  FROM events),
      | s2 AS (
      |  SELECT user_id, ts, event_type, t1,
      |         MIN(CASE WHEN event_type = 'click' AND ts > t1 THEN ts END) OVER (PARTITION BY user_id) AS t2
      |  FROM s1),
      | s3 AS (
      |  SELECT user_id, t1, t2,
      |         MIN(CASE WHEN event_type = 'purchase' AND ts > t2 THEN ts END) OVER (PARTITION BY user_id) AS t3
      |  FROM s2),
      | u AS (SELECT user_id, MAX(t1) AS t1, MAX(t2) AS t2, MAX(t3) AS t3 FROM s3 GROUP BY user_id)
      |SELECT CAST(COUNT(t1) AS BIGINT) AS n_viewed,
      |       CAST(COUNT(t2) AS BIGINT) AS n_clicked_after,
      |       CAST(COUNT(t3) AS BIGINT) AS n_purchased_after
      |FROM u""".stripMargin

  /** Per-customer running order spend in (date, key) order: the ROWS
    * UNBOUNDED PRECEDING frame. */
  val ordersRunningTotalSql: String =
    """SELECT o_custkey, o_orderkey,
      |  CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2)))
      |    OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
      |          ROWS UNBOUNDED PRECEDING) AS DOUBLE) AS running_spend
      |FROM orders""".stripMargin

  /** q9 shape: revenue of 'gear' parts per supplier nation and order year
    * (the corpus has no partsupp table, so profit is revenue). */
  val q9OracleSql: String =
    """SELECT n_name AS nation, CAST(EXTRACT(YEAR FROM o_orderdate) AS INT) AS o_year,
      | CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2)) * (CAST(1 AS DECIMAL(12,2)) - CAST(l_discount AS DECIMAL(12,2)))) AS DOUBLE) AS profit
      |FROM lineitem JOIN part ON l_partkey = p_partkey
      | JOIN supplier ON l_suppkey = s_suppkey
      | JOIN nation ON s_nationkey = n_nationkey
      | JOIN orders ON l_orderkey = o_orderkey
      |WHERE p_name LIKE '%gear%'
      |GROUP BY 1, 2""".stripMargin

  /** q11 shape: per-supplier inventory value with a HAVING threshold derived
    * from a global scalar over the SAME aggregate. The fact table scans and
    * shuffles exactly once (on l_suppkey); the threshold is an empty-frame
    * window over the per-supplier result, so only the dim-sized aggregate
    * funnels through one partition — no second fact scan.
    * Determinism: the threshold averages the DECIMAL per-supplier sums
    * (exact, order-independent) and only the final compare is double —
    * summing the per-supplier doubles instead would be order-dependent
    * across engines.
    * Kept as a hand plan: its SQL plan fails PlanSpec "q11: HAVING threshold
    * windows over the per-supplier result". */
  def q11ValueShare(s: SparkSession, dir: String): DataFrame = {
    val euroSupp = t(s, dir, "supplier")
      .join(broadcast(
        t(s, dir, "nation").join(broadcast(t(s, dir, "region").filter(col("r_name") === "EUROPE")),
          col("n_regionkey") === col("r_regionkey"))),
        col("s_nationkey") === col("n_nationkey"))
      .select(col("s_suppkey"))
    val per = t(s, dir, "lineitem")
      .select(col("l_suppkey"), col("l_extendedprice"), col("l_quantity"))
      .join(euroSupp, col("l_suppkey") === col("s_suppkey"))
      .groupBy(col("l_suppkey").as("suppkey"))
      .agg(sum(dec(col("l_extendedprice")) * dec(col("l_quantity"))).as("value_dec"))
    // Global threshold as a window over the aggregate, NOT a re-aggregation
    // join: a scalar-agg branch would re-plan (and re-scan) the whole fact
    // subtree. The empty-frame window funnels only the supplier-cardinality
    // aggregate through one partition — dim-sized, never fact-sized.
    import org.apache.spark.sql.expressions.Window
    val all = Window.partitionBy()
    per
      .withColumn("thr", sum(col("value_dec")).over(all).cast("double") / count(lit(1)).over(all))
      .filter(col("value_dec").cast("double") > col("thr"))
      .select(col("suppkey"), col("value_dec").cast("double").as("value"))
  }

  val q11OracleSql: String =
    """WITH per AS (
      |  SELECT l_suppkey AS suppkey,
      |         SUM(CAST(l_extendedprice AS DECIMAL(12,2)) * CAST(l_quantity AS DECIMAL(12,2))) AS value_dec
      |  FROM lineitem JOIN supplier ON l_suppkey = s_suppkey
      |   JOIN nation ON s_nationkey = n_nationkey
      |   JOIN region ON n_regionkey = r_regionkey
      |  WHERE r_name = 'EUROPE' GROUP BY 1)
      |SELECT suppkey, CAST(value_dec AS DOUBLE) AS value
      |FROM per
      |WHERE CAST(value_dec AS DOUBLE) > (SELECT CAST(SUM(value_dec) AS DOUBLE) / COUNT(*) FROM per)""".stripMargin

  /** q16 shape: distinct-supplier count per part attribute group, with an
    * exclusion list anti-joined out. The (partkey, suppkey) pair dedup the
    * textbook plan starts with is REDUNDANT under a distinct count — a
    * suppkey recurring across parts of the same (brand, size) collapses in
    * the group's distinct anyway — so this runs ONE dedup exchange, not
    * two: anti join (broadcast exclusion list) → part join (size filter
    * prunes the fact first) → distinct on (brand, size, suppkey) with
    * map-side partial dedup → tiny keyed count. countDistinct would plan
    * the same triple-dedup and then re-shuffle; the explicit distinct
    * keeps the rewrite visible and the exchange count at its floor.
    * Kept as a hand plan: its SQL plan fails PlanSpec "q16: broadcast anti
    * join; ONE dedup exchange". */
  def q16SupplierCnt(s: SparkSession, dir: String): DataFrame = {
    val badSupp = t(s, dir, "supplier").filter(col("s_acctbal") < 0).select(col("s_suppkey"))
    t(s, dir, "lineitem").select(col("l_partkey"), col("l_suppkey"))
      .join(broadcast(badSupp), col("l_suppkey") === col("s_suppkey"), "left_anti")
      .join(t(s, dir, "part").filter(col("p_size") <= 15).select(col("p_partkey"), col("p_brand"), col("p_size")),
        col("l_partkey") === col("p_partkey"))
      .select(col("p_brand"), col("p_size"), col("l_suppkey")).distinct()
      .groupBy(col("p_brand"), col("p_size"))
      .agg(count(lit(1)).as("supplier_cnt"))
  }

  val q16OracleSql: String =
    """SELECT p_brand, p_size, COUNT(DISTINCT l_suppkey) AS supplier_cnt
      |FROM (SELECT DISTINCT l_partkey, l_suppkey FROM lineitem) li
      | JOIN part ON l_partkey = p_partkey
      |WHERE p_size <= 15
      |  AND l_suppkey NOT IN (SELECT s_suppkey FROM supplier WHERE s_acctbal < 0)
      |GROUP BY 1, 2""".stripMargin

  /** q20 shape: nested-aggregate semi chain — suppliers holding a dominant
    * (>60%) share of some part's 1995 shipped quantity, on parts with
    * material volume (total ≥ 80). Part totals come from a window over the
    * (partkey, suppkey) aggregate (one fact scan); the dominant-supplier
    * id set is small → broadcast semi join into supplier. Share compare in
    * double over exact decimal sums.
    * Kept as a hand plan: its SQL plan fails PlanSpec "q20: two-level
    * aggregate shares ONE lineitem scan". */
  def q20ShareSemi(s: SparkSession, dir: String): DataFrame = {
    val ps = t(s, dir, "lineitem")
      .filter(col("l_shipdate") >= ts("1995-01-01 00:00:00") && col("l_shipdate") < ts("1996-01-01 00:00:00"))
      .groupBy(col("l_partkey"), col("l_suppkey"))
      .agg(sum(dec(col("l_quantity"))).as("qty"))
    // Part totals as a window over ps, not a groupBy+join-back — the
    // join-back branch would re-plan (and re-scan) the fact subtree. The
    // window repartitions only the already-aggregated (partkey, suppkey)
    // set, orders of magnitude smaller than lineitem.
    import org.apache.spark.sql.expressions.Window
    val dominant = ps
      .withColumn("total", sum(col("qty")).over(Window.partitionBy(col("l_partkey"))))
      .filter(col("qty").cast("double") > col("total").cast("double") * 0.6 &&
        col("total").cast("double") >= 80)
      .select(col("l_suppkey")).distinct()
    t(s, dir, "supplier")
      .join(dominant, col("s_suppkey") === col("l_suppkey"), "left_semi")
      .select(col("s_suppkey"), col("s_name"))
  }

  val q20OracleSql: String =
    """WITH ps AS (
      |  SELECT l_partkey, l_suppkey, SUM(CAST(l_quantity AS DECIMAL(12,2))) AS qty
      |  FROM lineitem
      |  WHERE l_shipdate >= TIMESTAMP '1995-01-01 00:00:00' AND l_shipdate < TIMESTAMP '1996-01-01 00:00:00'
      |  GROUP BY 1, 2),
      | p AS (SELECT l_partkey, SUM(qty) AS total FROM ps GROUP BY 1)
      |SELECT s_suppkey, s_name FROM supplier
      |WHERE s_suppkey IN (
      |  SELECT l_suppkey FROM ps JOIN p USING (l_partkey)
      |  WHERE CAST(qty AS DOUBLE) > 0.6 * CAST(total AS DOUBLE) AND CAST(total AS DOUBLE) >= 80)""".stripMargin

  /** q21 shape: the top-10 suppliers by orders of more than one line that
    * they alone supplied. */
  val q21OracleSql: String =
    """WITH o AS (
      |  SELECT l_orderkey, COUNT(*) AS n, MIN(l_suppkey) AS mn, MAX(l_suppkey) AS mx
      |  FROM lineitem GROUP BY 1)
      |SELECT s_suppkey, s_name, COUNT(*) AS sole_orders
      |FROM o JOIN supplier ON mn = s_suppkey
      |WHERE n > 1 AND mn = mx
      |GROUP BY 1, 2
      |ORDER BY sole_orders DESC, s_suppkey
      |LIMIT 10""".stripMargin

  /** Cohort retention matrix: per event type, users active in week N after
    * their first event of that type. ONE user-partitioned window (min over
    * (user, type)) replaces the naive first-seen self-join — a single
    * fact shuffle; the count-distinct re-shuffles only (type, week) groups.
    * At 100 TB the window key (user_id, event_type) is high-cardinality →
    * no skew; week arithmetic is exact integer date math.
    * Kept as a hand plan: its oracle text's `datediff('day', ...)` is
    * DuckDB's form. */
  def eventsRetention(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("user_id"), col("event_type"))
    Tables.loadEvents(s, dir)
      .select(col("user_id"), col("event_type"), to_date(col("ts")).as("day"))
      .withColumn("first_day", min(col("day")).over(w))
      .withColumn("week_n", floor(datediff(col("day"), col("first_day")) / 7))
      .groupBy(col("event_type"), col("week_n"))
      .agg(countDistinct(col("user_id")).as("active_users"))
  }

  val eventsRetentionSql: String =
    """WITH d AS (SELECT user_id, event_type, CAST(ts AS DATE) AS day FROM events),
      | f AS (SELECT user_id, event_type, day,
      |        MIN(day) OVER (PARTITION BY user_id, event_type) AS first_day FROM d)
      |SELECT event_type,
      |  CAST(FLOOR(datediff('day', first_day, day) / 7) AS BIGINT) AS week_n,
      |  COUNT(DISTINCT user_id) AS active_users
      |FROM f GROUP BY 1, 2""".stripMargin

  /** Semi-structured extraction: pull a typed field out of the JSON props
    * column and aggregate it. Scan-bound single pass — the JSON parse stays
    * inside whole-stage codegen (get_json_object is a codegen'd native
    * expression, not a UDF) and the agg keeps map-side combine.
    * Kept as a hand plan: its oracle text uses DuckDB-only
    * `json_extract_string`. */
  def eventsJson(s: SparkSession, dir: String): DataFrame =
    Tables.loadEvents(s, dir)
      .select(col("event_type"), get_json_object(col("props"), "$.k").cast("long").as("k"))
      .groupBy(col("event_type"))
      .agg(sum(col("k")).as("sum_k"), count(col("k")).as("n_k"), max(col("k")).as("max_k"))

  val eventsJsonSql: String =
    // TRY_CAST + count the CASTED value, mirroring the Spark side exactly:
    // Spark's cast("long") yields NULL on a non-numeric $.k (count excludes
    // it), so a plain CAST would abort the oracle and a COUNT of the raw
    // string would overcount — a latent twin divergence on any corpus with
    // non-numeric props values (the synthetic corpus is numeric-only).
    """SELECT event_type,
      |  CAST(SUM(TRY_CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS sum_k,
      |  COUNT(TRY_CAST(json_extract_string(props, '$.k') AS BIGINT)) AS n_k,
      |  MAX(TRY_CAST(json_extract_string(props, '$.k') AS BIGINT)) AS max_k
      |FROM events GROUP BY 1""".stripMargin

  /** Daily event counts, one column per event type; an absent (day, type) cell counts 0. */
  val eventsPivotSql: String =
    """SELECT CAST(ts AS DATE) AS day,
      |  COUNT(CASE WHEN event_type = 'click' THEN 1 END) AS click,
      |  COUNT(CASE WHEN event_type = 'error' THEN 1 END) AS error,
      |  COUNT(CASE WHEN event_type = 'purchase' THEN 1 END) AS purchase,
      |  COUNT(CASE WHEN event_type = 'signup' THEN 1 END) AS signup,
      |  COUNT(CASE WHEN event_type = 'view' THEN 1 END) AS view
      |FROM events GROUP BY 1""".stripMargin

  /** Time-series gap fill (resample): hourly event counts on a COMPLETE
    * hour grid, absent hours zero-filled. ONE dataflow, ONE fact scan: each
    * aggregated row emits itself plus zero-rows for the gap to its lead()
    * neighbor (grid-and-join would re-plan — and re-scan — the hourly
    * aggregate for the grid branch; column pruning makes the two branches
    * non-identical so ReuseExchange can't dedup them). The lead window is a
    * single partition of the AGGREGATE — timeline-sized (hours, not
    * events), the same bounded-small shape as the quantile targets.
    * Kept as a hand plan: its oracle text uses DuckDB-only
    * `unnest(generate_series(...))`. */
  def eventsResample(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val hour = expr("interval 1 hour")
    val w = Window.partitionBy().orderBy(col("hour"))
    Tables.loadEvents(s, dir)
      .groupBy(date_trunc("hour", col("ts")).as("hour"))
      .agg(count(lit(1)).as("n"))
      .withColumn("next", lead(col("hour"), 1).over(w))
      .select(explode(concat(
        array(struct(col("hour"), col("n"))),
        when(col("next").isNull || col("next") <= col("hour") + hour, array().cast("array<struct<hour:timestamp,n:bigint>>"))
          .otherwise(transform(
            sequence(col("hour") + hour, col("next") - hour, hour),
            h => struct(h.as("hour"), lit(0L).as("n"))))
      )).as("r"))
      .select(col("r.hour").as("hour"), col("r.n").as("n_events"))
  }

  val eventsResampleSql: String =
    """WITH h AS (SELECT date_trunc('hour', ts) AS hour, COUNT(*) AS n FROM events GROUP BY 1),
      | b AS (SELECT MIN(hour) AS mn, MAX(hour) AS mx FROM h),
      | grid AS (SELECT unnest(generate_series(mn, mx, INTERVAL 1 HOUR)) AS hour FROM b)
      |SELECT hour, COALESCE(n, 0) AS n_events
      |FROM grid LEFT JOIN h USING (hour)""".stripMargin

  /** Group top-k via the native bounded-heap aggregate ([[graft.functions
    * .TopKDoubles]]): top-3 order totals per customer. Against the window
    * formulation (`topk_orders_per_cust`) this ships at most k doubles per
    * (partition, group) through the shuffle and never sorts a group — the
    * window sorts EVERY order of every customer. ObjectHashAggregate with
    * partial merge (plan-guarded). The array result is posexploded to
    * scalar `(o_custkey, rnk, spend)` rows — the verification harness
    * canonicalizes via pandas sort, which cannot hash array cells; tied
    * spends make row_number's tiebreak immaterial to the output multiset.
    * Kept as a hand plan: its SQL plan fails TopKAggSpec "plan: hash-based
    * heap aggregation over ONE key-clustered exchange". */
  def topkSpendPerCust(s: SparkSession, dir: String): DataFrame =
    // Key-cluster first (Tables.clusterBy): on the unclustered layouts the
    // bench corpora have, each map task sees ~every key once, so the
    // partial heap collapses nothing while allocating a heap buffer per
    // input row and serializing it across the partial/final boundary —
    // the sf10 stress run spent its whole wall in that one-wave partial
    // (max task 7.2 s of 8.4 s). Clustered, the heap aggregation runs
    // partition-local at wave granularity. A corpus laid out BY customer
    // would keep the natural partial shape instead (clusterBy doc).
    Tables.clusterBy(t(s, dir, "orders"), "o_custkey")
      .groupBy(col("o_custkey"))
      .agg(graft.functions.VectorFns.topK(col("o_totalprice"), 3).as("top_spend"))
      .select(col("o_custkey"), posexplode(col("top_spend")).as(Seq("pos", "spend")))
      .select(col("o_custkey"), (col("pos") + 1).cast("long").as("rnk"), col("spend"))

  val topkSpendSql: String =
    """SELECT o_custkey, CAST(rnk AS BIGINT) AS rnk, spend FROM (
      |  SELECT o_custkey, o_totalprice AS spend,
      |    ROW_NUMBER() OVER (PARTITION BY o_custkey ORDER BY o_totalprice DESC) AS rnk
      |  FROM orders)
      |WHERE rnk <= 3""".stripMargin

  /** Probe rows per 1-minute bucket above which the interval join salts
    * the bucket into sub-buckets. Sized so one task's share of a bucket's
    * pair product stays bounded: real event streams BURST (an incident
    * storm packs one bucket), and without the salt that bucket's
    * |errors|·|purchases| product lands on a single task at 100 TB. */
  private[graft] val IntervalHotThreshold = 2000000L
  private[graft] val IntervalSaltFactor = 16

  /** Batch interval join (the batch twin of `events_stream_join`): pair
    * every error event with every purchase event within ±60 s, no equi key
    * — the theta-join shape Spark would otherwise plan as a cartesian
    * product with a post-filter. Scale path: BUCKETED band join — probe
    * rows key to their 1-minute bucket, build rows replicate to bucket
    * −1/0/+1 (a pair within the band meets in exactly one bucket, so no
    * dedup), then an equi join on the bucket + the exact residual filter.
    * Shuffle volume is 1×+3× the two filtered inputs instead of |e|·|p|,
    * and the band width is a constant the operator takes as a parameter.
    * Buckets are NOT assumed time-uniform: a bucket whose probe count
    * exceeds [[IntervalHotThreshold]] is salted into
    * [[IntervalSaltFactor]] sub-buckets ([[graft.functions.Joins
    * .hotSaltedJoin]], salt = e_ms), so a bursty minute's pair product
    * spreads over `factor` tasks instead of one. Results are
    * partition-invariant — the JoinsSpec bursty-distribution spec pins
    * both the equivalence and the bounded-group property.
    * Kept as a hand plan: its oracle text uses DuckDB-only `epoch_ms`. */
  def eventsIntervalJoin(s: SparkSession, dir: String): DataFrame =
    eventsIntervalJoinImpl(s, dir, IntervalHotThreshold, IntervalSaltFactor)

  private[graft] def eventsIntervalJoinImpl(
      s: SparkSession, dir: String, hotThreshold: Long, factor: Int): DataFrame = {
    val W = 60000L // band: ±60 s in ms
    val ev = Tables.loadEvents(s, dir)
    val errs = ev.filter(col("event_type") === "error")
      .select(col("ts").as("e_ts"), unix_millis(col("ts")).as("e_ms"))
      .withColumn("bucket", floor(col("e_ms") / W))
    val purch = ev.filter(col("event_type") === "purchase")
      .select(unix_millis(col("ts")).as("p_ms"))
      .select(col("p_ms"),
        explode(sequence(floor(col("p_ms") / W) - 1, floor(col("p_ms") / W) + 1)).as("bucket"))
    graft.functions.Joins.hotSaltedJoin(
        errs, purch, Seq("bucket"), col("e_ms"), hotThreshold, factor)
      .filter(abs(col("e_ms") - col("p_ms")) <= W)
      .groupBy(date_trunc("hour", col("e_ts")).as("hour"))
      .agg(count(lit(1)).as("n_pairs"))
  }

  val eventsIntervalJoinSql: String =
    """WITH e AS (SELECT ts, epoch_ms(ts) AS e_ms FROM events WHERE event_type = 'error'),
      | p AS (SELECT epoch_ms(ts) AS p_ms FROM events WHERE event_type = 'purchase')
      |SELECT date_trunc('hour', e.ts) AS hour, COUNT(*) AS n_pairs
      |FROM e JOIN p ON abs(e.e_ms - p.p_ms) <= 60000
      |GROUP BY 1""".stripMargin

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "events_interval_join" -> (eventsIntervalJoin _),
    "q1_pricing" -> sqlText(q1OracleSql),
    "q4_priority_exists" -> sqlText(q4OracleSql),
    "q19_disjunct" -> sqlText(q19OracleSql),
    "q22_idle_rich" -> (q22IdleRich _),
    "q3_priority" -> (q3Priority _),
    "q5_volume" -> (q5Volume _),
    "q6_revenue" -> sqlText(q6OracleSql),
    "q10_returns" -> (q10Returns _),
    "q12_priority_by_linestatus" -> sqlText(q12OracleSql),
    "topk_orders_per_cust" -> sqlText(topkOracleSql),
    "anti_no_orders" -> sqlText(antiNoOrdersSql),
    "events_hourly" -> sqlText(eventsHourlySql),
    "events_sessions" -> (eventsSessions _),
    "q7_nation_volume" -> sqlText(q7OracleSql),
    "q13_custdist" -> (q13Custdist _),
    "q14_promo" -> sqlText(q14OracleSql),
    "q17_small_qty" -> (q17SmallQty _),
    "q18_large_volume" -> sqlText(q18OracleSql),
    "q8_market_share" -> sqlText(q8OracleSql),
    "q15_top_supplier" -> (q15TopSupplier _),
    "sales_rollup" -> (salesRollup _),
    "events_quantiles" -> (eventsQuantiles _),
    "events_funnel" -> sqlText(eventsFunnelSql),
    "orders_running_total" -> sqlText(ordersRunningTotalSql),
    "q9_profit" -> sqlText(q9OracleSql),
    "q11_value_share" -> (q11ValueShare _),
    "q16_supplier_cnt" -> (q16SupplierCnt _),
    "q20_share_semi" -> (q20ShareSemi _),
    "q21_sole_supplier" -> sqlText(q21OracleSql),
    "events_retention" -> (eventsRetention _),
    "events_json" -> (eventsJson _),
    "events_pivot" -> sqlText(eventsPivotSql),
    "events_resample" -> (eventsResample _),
    "topk_spend_per_cust" -> (topkSpendPerCust _)
  )

  val oracles: Map[String, String] = Map(
    "q1_pricing" -> q1OracleSql,
    "q4_priority_exists" -> q4OracleSql,
    "q19_disjunct" -> q19OracleSql,
    "q22_idle_rich" -> q22OracleSql,
    "q3_priority" -> q3OracleSql,
    "q5_volume" -> q5OracleSql,
    "q6_revenue" -> q6OracleSql,
    "q10_returns" -> q10OracleSql,
    "q12_priority_by_linestatus" -> q12OracleSql,
    "topk_orders_per_cust" -> topkOracleSql,
    "anti_no_orders" -> antiNoOrdersSql,
    "events_hourly" -> eventsHourlySql,
    "events_sessions" -> eventsSessionsSql,
    "q7_nation_volume" -> q7OracleSql,
    "q13_custdist" -> q13OracleSql,
    "q14_promo" -> q14OracleSql,
    "q17_small_qty" -> q17OracleSql,
    "q18_large_volume" -> q18OracleSql,
    "q8_market_share" -> q8OracleSql,
    "q15_top_supplier" -> q15OracleSql,
    "sales_rollup" -> salesRollupSql,
    "events_quantiles" -> eventsQuantilesSql,
    "events_funnel" -> eventsFunnelSql,
    "orders_running_total" -> ordersRunningTotalSql,
    "q9_profit" -> q9OracleSql,
    "q11_value_share" -> q11OracleSql,
    "q16_supplier_cnt" -> q16OracleSql,
    "q20_share_semi" -> q20OracleSql,
    "q21_sole_supplier" -> q21OracleSql,
    "events_retention" -> eventsRetentionSql,
    "events_json" -> eventsJsonSql,
    "events_pivot" -> eventsPivotSql,
    "events_resample" -> eventsResampleSql,
    "topk_spend_per_cust" -> topkSpendSql,
    "events_interval_join" -> eventsIntervalJoinSql
  )
}
