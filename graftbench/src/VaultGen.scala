package graftbench

import java.io.{BufferedWriter, File, FileOutputStream, OutputStreamWriter}
import java.nio.charset.StandardCharsets
import java.util.SplittableRandom

import scala.collection.mutable

/** Seeded generator for the vault workloads: a customer / orders /
  * lineitem world with the column shapes measured on the sf0.1 tables
  * (graftbench/README.md) that evolves day by day, written as one CSV file
  * per (source, day), plus the ground truth the checks compare against.
  *
  * Day 1 is the backfill (every entity). Each later day carries:
  *  - `stg_customer`: the FULL snapshot of active customers. A fixed share
  *    is new, a share changed attributes, a share disappeared (the
  *    `sat_full` load must tombstone them), the rest repeat unchanged.
  *  - `stg_orders`: a delta of new orders, changed orders (status / price)
  *    and unchanged repeats.
  *  - `stg_lineitem`: the lines of the day's new orders plus a few
  *    unchanged repeats.
  *
  * Same seed, same sizes => byte-identical files (one RNG stream, fixed
  * iteration order, fixed number formatting).
  */
final class VaultGen(seed: Long, val nCust: Int, val nOrders: Int, val days: Int) {
  import VaultGen._

  val customers = mutable.LinkedHashMap.empty[Long, Cust] // active only
  val orders = mutable.LinkedHashMap.empty[Long, Order]   // latest state
  val ordersByKey = mutable.ArrayBuffer.empty[Long]
  private val lines = mutable.ArrayBuffer.empty[Line]

  /** Per-day ground truth, index 0 = day 1. */
  val truth = mutable.ArrayBuffer.empty[DayTruth]
  /** Entity state after each day (index 0 = day 1), for the read checks. */
  val states = mutable.ArrayBuffer.empty[DayState]
  private val custVersions = mutable.HashMap.empty[Long, Int]
  private val custTouched = mutable.HashMap.empty[Long, Int]

  private val rnd = new SplittableRandom(seed ^ 0x5DEECE66DL)
  private var nextCust = 1L
  private var nextOrder = 1L
  private val deleted = mutable.LinkedHashMap.empty[Long, Cust]
  // cumulative expected vault state
  private var satCust = 0L
  private var satOrder = 0L
  private var tombstones = 0L

  private def cents(lo: Int, hi: Int): Long = lo.toLong + rnd.nextLong((hi - lo).toLong + 1)

  private def newCust(): Cust = {
    val k = nextCust; nextCust += 1
    Cust(k, f"Customer#$k%09d", rnd.nextInt(25), cents(-99999, 999999), Segments(rnd.nextInt(Segments.length)))
  }

  private def newOrder(custkey: Long, status: String): Order = {
    val k = nextOrder; nextOrder += 1
    val day = rnd.nextInt(OrderDays)
    Order(k, custkey, status, cents(100000, 50000000), day, Priorities(rnd.nextInt(Priorities.length)))
  }

  private def linesOf(o: Order): Seq[Line] =
    (1 to 1 + rnd.nextInt(7)).map { n =>
      val qty = 1 + rnd.nextInt(50)
      Line(o.key, n, 1L + rnd.nextInt(20000), qty, qty.toLong * cents(90000, 200000) / 100)
    }

  private def pick[A](xs: IndexedSeq[A], n: Int): IndexedSeq[A] = {
    // partial Fisher-Yates over a copy: n distinct picks, seeded
    val a = xs.toArray[Any]
    val m = math.min(n, a.length)
    var i = 0
    while (i < m) {
      val j = i + rnd.nextInt(a.length - i)
      val t = a(i); a(i) = a(j); a(j) = t
      i += 1
    }
    a.take(m).toIndexedSeq.asInstanceOf[IndexedSeq[A]]
  }

  /** Generate every day into `dir`; returns the files per day. */
  def writeAll(dir: File): Seq[DayFiles] = {
    dir.mkdirs()
    (1 to days).map { d =>
      val (custRows, orderRows, lineRows) = if (d == 1) backfill() else delta()
      states += DayState(
        customers.map { case (k, c) => k -> (c, true) }.toMap ++ deleted.map { case (k, c) => k -> (c, false) },
        orders.toMap, custVersions.toMap, custTouched.toMap)
      val f = DayFiles(d,
        write(new File(dir, f"stg_customer_day$d%03d.csv"), CustHeader, custRows.map(_.csv)),
        write(new File(dir, f"stg_orders_day$d%03d.csv"), OrderHeader, orderRows.map(_.csv)),
        write(new File(dir, f"stg_lineitem_day$d%03d.csv"), LineHeader, lineRows.map(_.csv)),
        custRows.size.toLong + orderRows.size + lineRows.size)
      truth += DayTruth(d,
        hubCustomer = nextCust - 1, hubOrder = nextOrder - 1, linkOrderCustomer = nextOrder - 1,
        nhlLineitem = lines.size.toLong, hsatCustomer = satCust, hsatOrder = satOrder,
        tombstones = tombstones, stagedRows = f.rows)
      f
    }
  }

  private def backfill(): (Seq[Cust], Seq[Order], Seq[Line]) = {
    (1 to nCust).foreach { _ => val c = newCust(); customers(c.key) = c }
    val keys = customers.keys.toIndexedSeq
    val os = (1 to nOrders).map(_ => newOrder(keys(rnd.nextInt(keys.size)), Statuses(rnd.nextInt(Statuses.length))))
    os.foreach { o => orders(o.key) = o; ordersByKey += o.key }
    val ls = os.flatMap(linesOf)
    lines ++= ls
    satCust += customers.size
    satOrder += os.size
    customers.keys.foreach { k => custVersions(k) = 1; custTouched(k) = 1 }
    (customers.values.toSeq, os, ls)
  }

  private def delta(): (Seq[Cust], Seq[Order], Seq[Line]) = {
    val active = customers.keys.toIndexedSeq
    val gone = pick(active, math.max(1, nCust / 500))
    gone.foreach { k => deleted(k) = customers.remove(k).get }
    val changed = pick(customers.keys.toIndexedSeq, math.max(1, nCust / 100))
    changed.foreach { k =>
      val c = customers(k)
      customers(k) =
        if (rnd.nextInt(4) == 0) c.copy(segment = Segments((Segments.indexOf(c.segment) + 1) % Segments.length))
        else c.copy(acctbal = c.acctbal + 1 + rnd.nextInt(5000))
    }
    val fresh = (1 to math.max(1, nCust / 200)).map(_ => newCust())
    fresh.foreach(c => customers(c.key) = c)
    satCust += gone.size + changed.size + fresh.size
    tombstones += gone.size
    val today = truth.size + 1
    (gone ++ changed ++ fresh.map(_.key)).foreach { k =>
      custVersions(k) = custVersions.getOrElse(k, 0) + 1
      custTouched(k) = today
    }

    val custKeys = customers.keys.toIndexedSeq
    val newOrders = (1 to math.max(1, nOrders / 100)).map(_ => newOrder(custKeys(rnd.nextInt(custKeys.size)), "O"))
    val existing = ordersByKey.toIndexedSeq
    val touched = pick(existing, math.max(2, nOrders / 200))
    val (chg, rep) = touched.splitAt(touched.size * 3 / 5)
    val changedOrders = chg.map { k =>
      val o = orders(k)
      val u =
        if (o.status == "O") o.copy(status = if (rnd.nextInt(3) == 0) "P" else "F")
        else o.copy(totalprice = o.totalprice + 100 + rnd.nextInt(10000))
      orders(k) = u
      u
    }
    val repeats = rep.map(orders)
    newOrders.foreach { o => orders(o.key) = o; ordersByKey += o.key }
    satOrder += newOrders.size + changedOrders.size
    val newLines = newOrders.flatMap(linesOf)
    val lineRepeats = pick(lines.toIndexedSeq, math.max(1, lines.size / 2000))
    lines ++= newLines
    // rows of one file are in key order, like an extract sorted by key
    (customers.values.toSeq.sortBy(_.key),
      (newOrders ++ changedOrders ++ repeats).sortBy(_.key),
      (newLines ++ lineRepeats).sortBy(l => (l.orderkey, l.linenumber)))
  }
}

object VaultGen {
  val Segments = Array("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
  val Priorities = Array("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
  val CustHeader = "c_custkey,c_name,c_nationkey,c_acctbal,c_mktsegment"
  val OrderHeader = "o_orderkey,o_custkey,o_orderstatus,o_totalprice,o_orderdate,o_orderpriority"
  val LineHeader = "l_orderkey,l_linenumber,l_partkey,l_quantity,l_extendedprice"
  /** Order status, shared equally in the sf0.1 orders table. */
  val Statuses = Array("F", "O", "P")
  /** Order dates span 1995-01-01 to 2001-08-01 in the sf0.1 orders table. */
  val Epoch: java.time.LocalDate = java.time.LocalDate.of(1995, 1, 1)
  val OrderDays = 2404

  /** Exact decimal text of an amount in cents. */
  def money(c: Long): String = {
    val a = math.abs(c)
    f"${if (c < 0) "-" else ""}${a / 100}%d.${a % 100}%02d"
  }

  final case class Cust(key: Long, name: String, nation: Int, acctbal: Long, segment: String) {
    def csv: String = s"$key,$name,$nation,${money(acctbal)},$segment"
    def acctbalD: Double = money(acctbal).toDouble
  }
  final case class Order(key: Long, custkey: Long, status: String, totalprice: Long, day: Int, priority: String) {
    def date: String = s"${Epoch.plusDays(day.toLong)} 00:00:00"
    def csv: String = s"$key,$custkey,$status,${money(totalprice)},$date,$priority"
  }
  final case class Line(orderkey: Long, linenumber: Int, partkey: Long, qty: Int, price: Long) {
    def csv: String = s"$orderkey,$linenumber,$partkey,$qty.0,${money(price)}"
  }
  /** After one day: customer key -> (last attributes, active); order key
    * -> latest order; satellite versions per customer (inserts and
    * tombstones); the day each customer last changed. */
  final case class DayState(customers: Map[Long, (Cust, Boolean)], orders: Map[Long, Order],
      versions: Map[Long, Int], touched: Map[Long, Int])
  final case class DayFiles(day: Int, customer: String, orders: String, lineitem: String, rows: Long)
  final case class DayTruth(day: Int, hubCustomer: Long, hubOrder: Long, linkOrderCustomer: Long,
      nhlLineitem: Long, hsatCustomer: Long, hsatOrder: Long, tombstones: Long, stagedRows: Long)

  def write(f: File, header: String, rows: Iterable[String]): String = {
    val w = new BufferedWriter(new OutputStreamWriter(new FileOutputStream(f), StandardCharsets.UTF_8), 1 << 16)
    try {
      w.write(header); w.write('\n')
      rows.foreach { r => w.write(r); w.write('\n') }
    } finally w.close()
    f.getAbsolutePath
  }
}
