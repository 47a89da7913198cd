package graftbench

import java.sql.Timestamp

import org.apache.spark.sql.SparkSession

import graft.Graft
import graft.etl.FlowResult
import graft.meta.{MetaStore, TableColumn, Transition}

/** The benchmark's vault: metadata for three staging sources feeding two
  * hubs (one shared), a link, a non-historized link and two satellites, and
  * the day-by-day flow runner the vault workload uses. */
object Vault {
  val Sources = Seq("stg_customer", "stg_orders", "stg_lineitem")
  val Tables = Seq("hub_customer", "hub_order", "link_order_customer", "nhl_lineitem",
    "hsat_customer", "hsat_order")

  private def c(base: String, rel: String, name: String, tpe: String, pos: Int, m: String) =
    TableColumn(base, rel, name, tpe, pos, m)
  private def t(src: String, field: String, target: String, tfield: String, group: String,
      pos: Int, kind: String) =
    Transition(src, field, target, tfield, group, pos, raw = false, None, kind)

  val meta: MetaStore = MetaStore(
    tables = Seq(
      c("stg_customer", "stg", "c_custkey", "BIGINT", 1, "c"),
      c("stg_customer", "stg", "c_name", "VARCHAR", 2, "c"),
      c("stg_customer", "stg", "c_nationkey", "INTEGER", 3, "c"),
      c("stg_customer", "stg", "c_acctbal", "DOUBLE", 4, "c"),
      c("stg_customer", "stg", "c_mktsegment", "VARCHAR", 5, "c"),
      c("stg_orders", "stg", "o_orderkey", "BIGINT", 1, "c"),
      c("stg_orders", "stg", "o_custkey", "BIGINT", 2, "c"),
      c("stg_orders", "stg", "o_orderstatus", "VARCHAR", 3, "c"),
      c("stg_orders", "stg", "o_totalprice", "DOUBLE", 4, "c"),
      c("stg_orders", "stg", "o_orderdate", "TIMESTAMP", 5, "c"),
      c("stg_orders", "stg", "o_orderpriority", "VARCHAR", 6, "c"),
      c("stg_lineitem", "stg", "l_orderkey", "BIGINT", 1, "c"),
      c("stg_lineitem", "stg", "l_linenumber", "INTEGER", 2, "c"),
      c("stg_lineitem", "stg", "l_partkey", "BIGINT", 3, "c"),
      c("stg_lineitem", "stg", "l_quantity", "DOUBLE", 4, "c"),
      c("stg_lineitem", "stg", "l_extendedprice", "DOUBLE", 5, "c"),
      c("customer", "hub", "c_custkey", "BIGINT", 1, "bk"),
      c("order", "hub", "o_orderkey", "BIGINT", 1, "bk"),
      c("order_customer", "link", "customer", "", 1, "ll"),
      c("order_customer", "link", "order", "", 2, "ll"),
      c("lineitem", "nhl", "order", "", 1, "ll"),
      c("lineitem", "nhl", "l_linenumber", "INTEGER", 2, "dk"),
      c("lineitem", "nhl", "l_quantity", "DOUBLE", 3, "dk"),
      c("lineitem", "nhl", "l_extendedprice", "DOUBLE", 4, "dk"),
      c("customer", "hsat", "customer", "", 0, "hk"),
      c("customer", "hsat", "c_name", "VARCHAR", 1, "f"),
      c("customer", "hsat", "c_nationkey", "INTEGER", 2, "f"),
      c("customer", "hsat", "c_acctbal", "DOUBLE", 3, "f"),
      c("customer", "hsat", "c_mktsegment", "VARCHAR", 4, "f"),
      c("order", "hsat", "order", "", 0, "hk"),
      c("order", "hsat", "o_orderstatus", "VARCHAR", 1, "f"),
      c("order", "hsat", "o_totalprice", "DOUBLE", 2, "f"),
      c("order", "hsat", "o_orderdate", "TIMESTAMP", 3, "f"),
      c("order", "hsat", "o_orderpriority", "VARCHAR", 4, "f")),
    transitions = Seq(
      // full daily snapshot: hub + sat_full (delete detection)
      t("stg_customer", "c_custkey", "hub_customer", "c_custkey_bk", "customer", 1, "bk"),
      t("stg_customer", "c_name", "hsat_customer", "c_name", "customer_details", 1, "f"),
      t("stg_customer", "c_nationkey", "hsat_customer", "c_nationkey", "customer_details", 2, "f"),
      t("stg_customer", "c_acctbal", "hsat_customer", "c_acctbal", "customer_details", 3, "f"),
      t("stg_customer", "c_mktsegment", "hsat_customer", "c_mktsegment", "customer_details", 4, "f"),
      t("stg_customer", "customer_hk", "hsat_customer", "customer", "customer_details", 0, "sat_full"),
      // daily delta: own hub, the SHARED customer hub, link, sat_delta
      t("stg_orders", "o_custkey", "hub_customer", "c_custkey_bk", "customer", 1, "bk"),
      t("stg_orders", "o_orderkey", "hub_order", "o_orderkey_bk", "order", 1, "bk"),
      t("stg_orders", "customer", "link_order_customer", "customer_hk", "order_customer", 1, "ll"),
      t("stg_orders", "order", "link_order_customer", "order_hk", "order_customer", 2, "ll"),
      t("stg_orders", "o_orderstatus", "hsat_order", "o_orderstatus", "order_details", 1, "f"),
      t("stg_orders", "o_totalprice", "hsat_order", "o_totalprice", "order_details", 2, "f"),
      t("stg_orders", "o_orderdate", "hsat_order", "o_orderdate", "order_details", 3, "f"),
      t("stg_orders", "o_orderpriority", "hsat_order", "o_orderpriority", "order_details", 4, "f"),
      t("stg_orders", "order_hk", "hsat_order", "order", "order_details", 0, "sat_delta"),
      // daily delta into a non-historized link with a degenerate key
      t("stg_lineitem", "l_orderkey", "hub_order", "o_orderkey_bk", "order", 1, "bk"),
      t("stg_lineitem", "order", "nhl_lineitem", "order_hk", "lineitem", 1, "ll"),
      t("stg_lineitem", "l_linenumber", "nhl_lineitem", "l_linenumber_dk", "lineitem", 2, "dk"),
      t("stg_lineitem", "l_quantity", "nhl_lineitem", "l_quantity_dk", "lineitem", 3, "dk"),
      t("stg_lineitem", "l_extendedprice", "nhl_lineitem", "l_extendedprice_dk", "lineitem", 4, "dk")))

  /** Load timestamp of generated day `d` (day 1 = 2026-01-01, UTC). */
  def loadDts(d: Int): Timestamp =
    Timestamp.from(java.time.Instant.parse("2026-01-01T00:00:00Z").plusSeconds((d - 1).toLong * 86400L))

  def open(spark: SparkSession, lakeRoot: String): Graft = {
    val g = new Graft(spark, lakeRoot, meta)
    g.initVault()
    g
  }

  /** One source's flow for one day. */
  def flow(g: Graft, source: String, file: String, day: Int): FlowResult =
    g.executeFlow(source, "bench", Some(file), Some(loadDts(day)))

  def fileOf(f: VaultGen.DayFiles, source: String): String = source match {
    case "stg_customer" => f.customer
    case "stg_orders" => f.orders
    case _ => f.lineitem
  }

  /** Row-count and SCD2 invariants of the loaded vault against the
    * generator's truth after `t.day`; returns the failed checks. */
  def checkVault(g: Graft, t: VaultGen.DayTruth): Seq[String] = {
    val out = Seq.newBuilder[String]
    def keys(table: String, hk: String, expect: Long): Unit = {
      val r = g.sql(s"SELECT count(*), count(DISTINCT $hk) FROM dv.$table").head()
      if (r.getLong(0) != r.getLong(1)) out += s"$table: ${r.getLong(0)} rows but ${r.getLong(1)} distinct keys"
      if (r.getLong(0) != expect) out += s"$table: ${r.getLong(0)} rows, expected $expect"
    }
    keys("hub_customer", "customer_hk", t.hubCustomer)
    keys("hub_order", "order_hk", t.hubOrder)
    keys("link_order_customer", "order_customer_hk", t.linkOrderCustomer)
    keys("nhl_lineitem", "lineitem_hk", t.nhlLineitem)
    def sat(table: String, hk: String, expect: Long, expectDel: Option[Long]): Unit = {
      val r = g.sql(
        s"""SELECT count(*),
           |  coalesce(sum(CASE WHEN hash_diff = prev_hd AND del_flag = prev_del THEN 1 ELSE 0 END), 0),
           |  coalesce(sum(CASE WHEN del_flag THEN 1 ELSE 0 END), 0)
           |FROM (SELECT hash_diff, del_flag,
           |        lag(hash_diff) OVER (PARTITION BY $hk ORDER BY load_dts, run_id) AS prev_hd,
           |        lag(del_flag) OVER (PARTITION BY $hk ORDER BY load_dts, run_id) AS prev_del
           |      FROM dv.$table)""".stripMargin).head()
      if (r.getLong(0) != expect) out += s"$table: ${r.getLong(0)} rows, expected $expect"
      if (r.getLong(1) != 0L) out += s"$table: ${r.getLong(1)} consecutive rows with equal hash_diff and del_flag"
      expectDel.foreach { e =>
        if (r.getLong(2) != e) out += s"$table: ${r.getLong(2)} tombstones, expected $e"
      }
    }
    sat("hsat_customer", "customer_hk", t.hsatCustomer, Some(t.tombstones))
    sat("hsat_order", "order_hk", t.hsatOrder, Some(0L))
    out.result()
  }
}
