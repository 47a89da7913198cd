package graft

import org.apache.spark.sql.functions.{col, date_trunc}

import graft.core.Tables
import graft.queries.Analytics

/** The relational queries against their SQL texts, in Spark: a kept hand
  * plan returns its oracle text's rows, and a query that is its SQL text
  * reads the directory it was built over. */
class AnalyticsSqlSpec extends SparkSpec {

  private val sf0001 = "/root/testdata/sf0.001"
  private val sf001 = "/root/testdata/sf0.01"

  /** Every hand plan whose oracle text Spark runs. The texts of the four
    * other hand plans (`events_interval_join`, `events_json`,
    * `events_resample`, `events_retention`) use DuckDB-only functions. */
  private val handPlans = Seq(
    "q3_priority", "q5_volume", "q10_returns", "q11_value_share", "q13_custdist",
    "q15_top_supplier", "q16_supplier_cnt", "q17_small_qty", "q20_share_semi",
    "q22_idle_rich", "sales_rollup", "events_quantiles", "events_sessions",
    "topk_spend_per_cust")

  test("each kept hand plan returns the rows of its SQL text run in Spark (sf0.01)") {
    handPlans.foreach { k =>
      val hand = Analytics.queries(k)(spark, sf001)
      val text = Analytics.sqlText(Analytics.oracles(k))(spark, sf001)
      assert(hand.schema.map(f => f.name -> f.dataType) == text.schema.map(f => f.name -> f.dataType), k)
      assert(hand.exceptAll(text).count() == 0L, k)
      assert(text.exceptAll(hand).count() == 0L, k)
      // q22 has no idle rich customer at sf0.01 (sf0.1 has one); every
      // other result has rows to compare
      assert(hand.count() > 0L || k == "q22_idle_rich", k)
    }
  }

  test("a SQL-backed query reads the dir it was built over, also when run after a later build") {
    val running = Analytics.queries("orders_running_total")
    val hourly = Analytics.queries("events_hourly")
    val small = (running(spark, sf0001), hourly(spark, sf0001))
    val large = (running(spark, sf001), hourly(spark, sf001))
    // `small` runs after `large` re-pointed the views
    val counts = Seq(small._1.count(), small._2.count(), large._1.count(), large._2.count())
    def hours(dir: String) = Tables.loadEvents(spark, dir)
      .select(date_trunc("hour", col("ts")), col("event_type")).distinct().count()
    val expected = Seq(
      Tables.load(spark, sf0001, "orders").count(), hours(sf0001),
      Tables.load(spark, sf001, "orders").count(), hours(sf001))
    assert(counts == expected)
    assert(counts(0) < counts(2) && counts(1) < counts(3), counts)
  }
}
