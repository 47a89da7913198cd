package graftbench

import java.util.SplittableRandom

import org.apache.spark.sql.Row
import org.apache.spark.sql.functions.{col, count, lit, sum}

import graft.Graft
import graft.dv.DvOps

/** The read side of the vault: point lookups by business key
  * (parameterized `Graft.sql` over `dv.hub_*` joined to `bv.*_cv`) and
  * analytic scans (a current-view join, a link-traversal aggregate, an
  * as-of PIT at a seeded day, the satellite history of recently changed
  * keys). Every result is collected and compared with the generator's
  * entity state after the last loaded day. Each method returns
  * (correct, rows returned). */
final class Reads(ctx: Ctx, g: Graft, gen: VaultGen, rnd: SplittableRandom) {
  private def money(x: Double): Long = math.round(x * 100)

  /** One customer and one order business key: existing, recently changed
    * or absent, in seeded shares. */
  def lookup(day: Int): (Boolean, Long) = {
    val st = gen.states(day - 1)
    val custKeys = st.customers.keys.toIndexedSeq.sorted
    val recent = recentlyChanged(day)
    val ck = rnd.nextInt(10) match {
      case 0 => custKeys.last + 1 + rnd.nextInt(1000)
      case 1 | 2 => recent(rnd.nextInt(recent.size))
      case _ => custKeys(rnd.nextInt(custKeys.size))
    }
    val ok = if (rnd.nextInt(10) == 0) st.orders.size + 1L + rnd.nextInt(1000) else 1L + rnd.nextInt(st.orders.size)
    val a = lookupCustomer(day, ck)
    val b = lookupOrder(day, ok)
    (a._1 && b._1, a._2 + b._2)
  }

  /** The four analytic scans back to back. */
  def scans(day: Int): (Boolean, Long) = {
    val asOf = 1 + rnd.nextInt(day)
    val recent = recentlyChanged(day)
    val hist = Seq.fill(20)(recent(rnd.nextInt(recent.size))).distinct.sorted
    val rs = Seq(currentJoin(day), linkAggregate(day), pit(day, asOf), history(day, hist))
    (rs.forall(_._1), rs.map(_._2).sum)
  }

  private def recentlyChanged(day: Int): IndexedSeq[Long] =
    gen.states(day - 1).touched.collect { case (k, d) if d >= day - 1 => k }.toIndexedSeq.sorted

  private def lookupCustomer(day: Int, key: Long): (Boolean, Long) = {
    val rows = ctx.call("core.lookup", "customer")(g.sql(
      """SELECT h.c_custkey_bk, s.c_name, s.c_nationkey, s.c_acctbal, s.c_mktsegment, s.del_flag
        |FROM dv.hub_customer h JOIN bv.hsat_customer_cv s ON h.customer_hk = s.customer_hk
        |WHERE h.c_custkey_bk = ?""".stripMargin, Seq(key)).collect())
    val want = gen.states(day - 1).customers.get(key).map { case (c, active) =>
      Row(c.key, c.name, c.nation, c.acctbalD, c.segment, !active)
    }.toSeq
    (rows.toSeq == want || ctx.fail(s"customer lookup $key: got ${rows.mkString} want ${want.mkString}"), rows.length.toLong)
  }

  private def lookupOrder(day: Int, key: Long): (Boolean, Long) = {
    val rows = ctx.call("core.lookup", "order")(g.sql(
      """SELECT h.o_orderkey_bk, s.o_orderstatus, s.o_totalprice, s.o_orderpriority
        |FROM dv.hub_order h JOIN bv.hsat_order_cv s ON h.order_hk = s.order_hk
        |WHERE h.o_orderkey_bk = ? AND NOT s.del_flag""".stripMargin, Seq(key)).collect())
    val want = gen.states(day - 1).orders.get(key)
      .map(o => Row(o.key, o.status, VaultGen.money(o.totalprice).toDouble, o.priority)).toSeq
    (rows.toSeq == want || ctx.fail(s"order lookup $key: got ${rows.mkString} want ${want.mkString}"), rows.length.toLong)
  }

  /** Active customers per segment (count, balance): hub joined to the
    * satellite's current view. */
  private def currentJoin(day: Int): (Boolean, Long) = {
    val rows = ctx.call("dv.currentView") {
      val cv = g.currentView("hsat_customer").filter(!col("del_flag"))
      g.table("dv", "hub_customer").join(cv, "customer_hk")
        .groupBy("c_mktsegment").agg(count(lit(1)), sum("c_acctbal")).collect()
    }
    val got = rows.map(r => r.getString(0) -> (r.getLong(1), money(r.getDouble(2)))).toMap
    val want = gen.states(day - 1).customers.values.collect { case (c, true) => c }.groupBy(_.segment)
      .map { case (s, cs) => s -> (cs.size.toLong, cs.map(_.acctbal).sum) }
    (got == want || ctx.fail(s"current-view join day $day: got $got want $want"), rows.length.toLong)
  }

  /** Orders and revenue per (customer segment, order status) through the
    * order-customer link and both current views. */
  private def linkAggregate(day: Int): (Boolean, Long) = {
    val rows = ctx.call("core.sql", "link_aggregate")(g.sql(
      """SELECT c.c_mktsegment, o.o_orderstatus, count(*), sum(o.o_totalprice)
        |FROM dv.link_order_customer l
        |JOIN bv.hsat_order_cv o ON l.order_hk = o.order_hk
        |JOIN bv.hsat_customer_cv c ON l.customer_hk = c.customer_hk
        |GROUP BY 1, 2""".stripMargin).collect())
    val st = gen.states(day - 1)
    val got = rows.map(r => (r.getString(0), r.getString(1)) -> (r.getLong(2), money(r.getDouble(3)))).toMap
    val want = st.orders.values.groupBy(o => (st.customers(o.custkey)._1.segment, o.status))
      .map { case (k, os) => k -> (os.size.toLong, os.map(_.totalprice).sum) }
    (got == want || ctx.fail(s"link aggregate day $day: got $got want $want"), rows.length.toLong)
  }

  /** As-of state at `asOf` through `DvOps.pitTable`: hub keys without a
    * version yet, and versions per (deleted, segment). */
  private def pit(day: Int, asOf: Int): (Boolean, Long) = {
    val rows = ctx.call("dv.pitTable") {
      val p = DvOps.pitTable(g.table("dv", "hub_customer").select("customer_hk"), "customer_hk",
        Seq("hsat_customer" -> g.table("dv", "hsat_customer")), lit(Vault.loadDts(asOf))).as("p")
      val s = g.table("dv", "hsat_customer").as("s")
      p.join(s, col("p.customer_hk") === col("s.customer_hk") &&
          col("p.hsat_customer_load_dts") === col("s.load_dts"), "left")
        .groupBy(col("s.del_flag"), col("s.c_mktsegment")).count().collect()
    }
    val got = rows.map(r => (Option(r.get(0)).map(_.asInstanceOf[Boolean]), Option(r.getString(1))) -> r.getLong(2)).toMap
    val then = gen.states(asOf - 1).customers
    val unseen = gen.truth(day - 1).hubCustomer - then.size
    val seen = then.values.groupBy { case (c, active) => (Option(!active), Option(c.segment)) }
      .map { case (k, v) => k -> v.size.toLong }
    val want = if (unseen > 0) seen + ((None, None) -> unseen) else seen
    (got == want || ctx.fail(s"pit day $day as of $asOf: got $got want $want"), rows.length.toLong)
  }

  /** Satellite history (versions, tombstones) of recently changed keys. */
  private def history(day: Int, keys: Seq[Long]): (Boolean, Long) = {
    val rows = ctx.call("core.sql", "history")(g.sql(
      s"""SELECT h.c_custkey_bk, count(*), sum(CASE WHEN s.del_flag THEN 1 ELSE 0 END)
         |FROM dv.hsat_customer s JOIN dv.hub_customer h ON s.customer_hk = h.customer_hk
         |WHERE h.c_custkey_bk IN (${keys.map(_ => "?").mkString(", ")})
         |GROUP BY 1""".stripMargin, keys).collect())
    val st = gen.states(day - 1)
    val got = rows.map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    val want = keys.map(k => k -> (st.versions(k).toLong, if (st.customers(k)._2) 0L else 1L)).toMap
    (got == want || ctx.fail(s"history day $day: got $got want $want"), rows.length.toLong)
  }
}
