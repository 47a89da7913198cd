package graft.queries

import java.sql.Timestamp

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.core.Tables
import graft.dv.{DvOps, HashGen, HashView, LoadContext}
import graft.meta.Transition

/** Driver-checked Data Vault queries: each exercises one engine operator as a
  * pure DataFrame pipeline over the test tables, with an equivalent DuckDB
  * oracle. "Existing vault state" is simulated deterministically from the
  * input data (e.g. a modulo of the key = previously loaded batch) so the
  * incremental-load semantics are fully verifiable in SQL.
  *
  * All hashes here use md5 (driver's DuckDB 1.0 lacks sha1; engine default
  * remains sha1 — see graft.dv.HashGen).
  */
object DvQueries {

  private val Algo = HashGen.Md5
  private val ctx  = LoadContext(Timestamp.valueOf("2026-01-01 00:00:00"), "verify", 1L)

  /** md5(upper(concat_ws('||', coalesce(x::string,'') ...))) in DuckDB SQL. */
  private def sqlHash(fields: String*): String =
    s"md5(upper(concat_ws('||', ${fields.map(f => s"coalesce(cast($f as varchar),'')").mkString(", ")})))"

  private def sqlHashDec(fields: String*): String =
    s"md5(upper(concat_ws('||', ${fields.mkString(", ")})))"

  /** DuckDB canonical stringification of a double field (matches HashGen.stringifyFloating). */
  private def decStr(f: String): String = s"coalesce(cast(cast($f as decimal(38,4)) as varchar),'')"

  // ---------------------------------------------------------------- hashing

  /** #3: hub hash key over a single business key. */
  def hashHub(s: SparkSession, dir: String): DataFrame =
    Tables.load(s, dir, "customer")
      .select(col("c_custkey"), HashGen.hashCols(Seq(col("c_custkey")), Algo).as("customer_hk"))

  val hashHubSql: String =
    s"SELECT c_custkey, ${sqlHash("c_custkey")} AS customer_hk FROM customer"

  /** #4: composite + raw + transformed business keys, metadata-driven via HashView. */
  def hashComposite(s: SparkSession, dir: String): DataFrame = {
    val transitions = Seq(
      Transition("part", "p_partkey", "hub_part", "p_partkey_cbk", "part", 1, raw = false, None, "bk"),
      Transition("part", "base_part", "hub_part", "p_type_cbk", "part", 2, raw = true, None, "bk"),
      Transition("part", "p_name", "hsat_part", "p_name", "part_details", 1, raw = false, Some("trim(#)"), "f"),
      Transition("part", "p_brand", "hsat_part", "p_brand", "part_details", 2, raw = false, None, "f")
    )
    HashView.build(Tables.load(s, dir, "part"), transitions, Algo)
      .select(col("p_partkey"), col("part_hk"), col("part_details_hashdiff"), col("p_name"), col("p_brand"))
  }

  val hashCompositeSql: String =
    s"""SELECT p_partkey,
       | ${sqlHash("p_partkey", "'base_part'")} AS part_hk,
       | ${sqlHash("trim(p_name)", "p_brand")} AS part_details_hashdiff,
       | trim(p_name) AS p_name, p_brand
       |FROM part""".stripMargin

  /** #5: link hash key — legs resolve to hub bk source fields + degenerate key. */
  def hashLink(s: SparkSession, dir: String): DataFrame = {
    val transitions = Seq(
      Transition("orders", "o_custkey", "hub_customer", "c_custkey_bk", "customer", 1, raw = false, None, "bk"),
      Transition("orders", "o_orderkey", "hub_order", "o_orderkey_bk", "order", 1, raw = false, None, "bk"),
      Transition("orders", "customer", "link_order_customer", "customer_hk", "order_customer", 1, raw = false, None, "ll"),
      Transition("orders", "order", "link_order_customer", "order_hk", "order_customer", 2, raw = false, None, "ll"),
      Transition("orders", "o_orderpriority", "link_order_customer", "o_orderpriority_dk", "order_customer", 3, raw = false, None, "dk")
    )
    HashView.build(Tables.load(s, dir, "orders"), transitions, Algo)
      .select(col("o_orderkey"), col("customer_hk"), col("order_hk"), col("order_customer_hk"))
  }

  val hashLinkSql: String =
    s"""SELECT o_orderkey,
       | ${sqlHash("o_custkey")} AS customer_hk,
       | ${sqlHash("o_orderkey")} AS order_hk,
       | ${sqlHash("o_custkey", "o_orderkey", "o_orderpriority")} AS order_customer_hk
       |FROM orders""".stripMargin

  /** #6: satellite hashdiff with a floating payload field (decimal-canonicalized). */
  def hashSat(s: SparkSession, dir: String): DataFrame = {
    val cust = Tables.load(s, dir, "customer")
    cust.select(
      col("c_custkey"),
      HashGen.hashCols(
        Seq(HashGen.stringify(col("c_name")), HashGen.stringifyFloating(col("c_acctbal")), HashGen.stringify(col("c_mktsegment"))),
        Algo
      ).as("customer_details_hashdiff")
    )
  }

  val hashSatSql: String =
    s"""SELECT c_custkey,
       | ${sqlHashDec("coalesce(cast(c_name as varchar),'')", decStr("c_acctbal"), "coalesce(cast(c_mktsegment as varchar),'')")} AS customer_details_hashdiff
       |FROM customer""".stripMargin

  // ----------------------------------------------------------------- loads

  private def customerHashView(s: SparkSession, dir: String): DataFrame = {
    val transitions = Seq(
      Transition("customer", "c_custkey", "hub_customer", "c_custkey_bk", "customer", 1, raw = false, None, "bk"),
      Transition("customer", "c_name", "hsat_customer", "c_name", "customer_details", 1, raw = false, None, "f"),
      Transition("customer", "c_mktsegment", "hsat_customer", "c_mktsegment", "customer_details", 2, raw = false, None, "f")
    )
    HashView.build(Tables.load(s, dir, "customer"), transitions, Algo)
  }

  /** #7: hub load — existing hub = custkey % 3 == 0; result = newly inserted rows. */
  def hubLoad(s: SparkSession, dir: String): DataFrame = {
    val hv = customerHashView(s, dir)
    val existing = hv.filter(col("c_custkey") % 3 === 0)
      .select(col("customer_hk").as("customer_hk")).distinct()
    DvOps.newHubRows(hv, existing, "customer", Seq("c_custkey" -> "c_custkey_bk"), "customer_hk", ctx)
  }

  val hubLoadSql: String =
    s"""WITH src AS (SELECT ${sqlHash("c_custkey")} AS customer_hk, c_custkey FROM customer),
       | hub AS (SELECT DISTINCT customer_hk FROM src WHERE c_custkey % 3 = 0),
       | staged AS (SELECT DISTINCT customer_hk, c_custkey FROM src)
       |SELECT st.customer_hk,
       |       TIMESTAMP '2026-01-01 00:00:00' AS load_dts,
       |       'verify' AS record_source,
       |       CAST(1 AS BIGINT) AS run_id,
       |       st.c_custkey AS c_custkey_bk
       |FROM staged st LEFT JOIN hub h ON st.customer_hk = h.customer_hk
       |WHERE h.customer_hk IS NULL""".stripMargin

  /** #8: link load — existing link = orderkey % 2 == 0. */
  def linkLoad(s: SparkSession, dir: String): DataFrame = {
    val transitions = Seq(
      Transition("orders", "o_custkey", "hub_customer", "c_custkey_bk", "customer", 1, raw = false, None, "bk"),
      Transition("orders", "o_orderkey", "hub_order", "o_orderkey_bk", "order", 1, raw = false, None, "bk"),
      Transition("orders", "customer", "link_order_customer", "customer_hk", "oc", 1, raw = false, None, "ll"),
      Transition("orders", "order", "link_order_customer", "order_hk", "oc", 2, raw = false, None, "ll")
    )
    val hv = HashView.build(Tables.load(s, dir, "orders"), transitions, Algo)
    val existing = hv.filter(col("o_orderkey") % 2 === 0)
      .select(col("oc_hk").as("order_customer_hk")).distinct()
    DvOps.newLinkRows(
      hv, existing, "oc",
      Seq("customer_hk" -> "customer_hk", "order_hk" -> "order_hk"),
      "order_customer_hk", ctx
    )
  }

  val linkLoadSql: String =
    s"""WITH src AS (
       |  SELECT o_orderkey,
       |         ${sqlHash("o_custkey", "o_orderkey")} AS oc_hk,
       |         ${sqlHash("o_custkey")} AS customer_hk,
       |         ${sqlHash("o_orderkey")} AS order_hk
       |  FROM orders),
       | lnk AS (SELECT DISTINCT oc_hk AS order_customer_hk FROM src WHERE o_orderkey % 2 = 0),
       | staged AS (SELECT DISTINCT oc_hk AS order_customer_hk, customer_hk, order_hk FROM src)
       |SELECT st.order_customer_hk,
       |       TIMESTAMP '2026-01-01 00:00:00' AS load_dts,
       |       'verify' AS record_source,
       |       CAST(1 AS BIGINT) AS run_id,
       |       st.customer_hk, st.order_hk
       |FROM staged st LEFT JOIN lnk l ON st.order_customer_hk = l.order_customer_hk
       |WHERE l.order_customer_hk IS NULL""".stripMargin

  // Orders-as-satellite simulation shared by the sat queries: the "existing"
  // satellite holds orders from before 1997 (one version per key), the staged
  // batch is all orders with a perturbed priority for orderkey % 10 == 0.
  //
  // DEFERRED KEY HASHING: these benches derive BOTH sides of each sat load
  // from raw tables, so the hub hash key is md5(o_orderkey) — a 1:1 function
  // of a natural long key. Grouping/joining on the 8-byte long and hashing
  // only the rows that survive the load is semantically identical (same
  // groups, same join matches, same output hashes) and skips megabytes of
  // 32-byte string keys through the shuffle plus millions of md5 calls on
  // rows the anti-join/delta-filter was about to drop. Production vaults
  // store hk, so only the (small) staged side ever hashes there — deferring
  // here makes the bench's cost structure match production's. The payload
  // hashdiff still computes per input row (it feeds the delta compare).
  private def ordersStagedHv(s: SparkSession, dir: String): DataFrame = {
    val orders = Tables.load(s, dir, "orders").withColumn(
      "o_orderpriority",
      when(col("o_orderkey") % 10 === 0, lit("CHANGED")).otherwise(col("o_orderpriority"))
    )
    orders.select(
      col("o_orderkey"), col("o_orderstatus"), col("o_orderpriority"),
      HashGen.hashCols(Seq(col("o_orderstatus"), col("o_orderpriority")), Algo).as("order_details_hashdiff")
    )
  }

  private def ordersExistingSat(s: SparkSession, dir: String): DataFrame =
    Tables.load(s, dir, "orders")
      .filter(col("o_orderdate") < lit(Timestamp.valueOf("1997-01-01 00:00:00")))
      .select(
        col("o_orderkey").as("__nk"),
        lit(Timestamp.valueOf("2025-01-01 00:00:00")).as("load_dts"),
        lit(false).as("del_flag"),
        HashGen.hashCols(Seq(col("o_orderstatus"), col("o_orderpriority")), Algo).as("hash_diff"),
        lit("seed").as("record_source"),
        lit(0L).as("run_id"),
        col("o_orderstatus"), col("o_orderpriority")
      )

  private val ordersSatSqlCtes: String =
    s"""WITH staged AS (
       |  SELECT o_orderkey, o_orderstatus,
       |         CASE WHEN o_orderkey % 10 = 0 THEN 'CHANGED' ELSE o_orderpriority END AS o_orderpriority,
       |         ${sqlHash("o_orderkey")} AS order_hk,
       |         ${sqlHashDec("coalesce(cast(o_orderstatus as varchar),'')", "coalesce(cast(CASE WHEN o_orderkey % 10 = 0 THEN 'CHANGED' ELSE o_orderpriority END as varchar),'')")} AS order_details_hashdiff
       |  FROM orders),
       | sat AS (
       |  SELECT ${sqlHash("o_orderkey")} AS order_hk,
       |         TIMESTAMP '2025-01-01 00:00:00' AS load_dts,
       |         FALSE AS del_flag,
       |         ${sqlHashDec("coalesce(cast(o_orderstatus as varchar),'')", "coalesce(cast(o_orderpriority as varchar),'')")} AS hash_diff,
       |         'seed' AS record_source, CAST(0 AS BIGINT) AS run_id,
       |         o_orderstatus, o_orderpriority
       |  FROM orders WHERE o_orderdate < TIMESTAMP '1997-01-01 00:00:00')""".stripMargin

  /** #9: satellite delta load — new keys + changed payloads inserted. The
    * delta runs on the natural key; only the inserted rows (a few % of the
    * batch) get their hub hash key computed (see deferred-hashing note on
    * [[ordersStagedHv]]). */
  def satDelta(s: SparkSession, dir: String): DataFrame =
    DvOps.satNewRows(
      ordersStagedHv(s, dir), ordersExistingSat(s, dir),
      hkSource = "o_orderkey", hashdiffField = "order_details_hashdiff",
      fields = Seq("o_orderstatus" -> "o_orderstatus", "o_orderpriority" -> "o_orderpriority"),
      satHk = "__nk", ctx
    ).select(
      HashGen.hashCols(Seq(col("__nk")), Algo).as("order_hk"),
      col("load_dts"), col("del_flag"), col("hash_diff"),
      col("record_source"), col("run_id"),
      col("o_orderstatus"), col("o_orderpriority"))

  val satDeltaSql: String =
    s"""$ordersSatSqlCtes
       |SELECT DISTINCT st.order_hk,
       |       TIMESTAMP '2026-01-01 00:00:00' AS load_dts,
       |       FALSE AS del_flag,
       |       st.order_details_hashdiff AS hash_diff,
       |       'verify' AS record_source, CAST(1 AS BIGINT) AS run_id,
       |       st.o_orderstatus, st.o_orderpriority
       |FROM staged st
       |WHERE NOT EXISTS (
       |  SELECT 1 FROM sat
       |  WHERE sat.order_hk = st.order_hk
       |    AND sat.hash_diff = st.order_details_hashdiff
       |    AND sat.del_flag = FALSE)""".stripMargin

  /** #10: full-load delete detection — keys absent from staging get del
    * rows. Anti-join on the natural key; only the deleted rows hash. */
  def satFull(s: SparkSession, dir: String): DataFrame = {
    val staged = ordersStagedHv(s, dir).filter(col("o_orderkey") % 5 =!= 0)
    DvOps.satDeleteRows(
      staged, ordersExistingSat(s, dir),
      hkSource = "o_orderkey",
      fields = Seq("o_orderstatus", "o_orderpriority"),
      satHk = "__nk", ctx
    ).select(
      HashGen.hashCols(Seq(col("__nk")), Algo).as("order_hk"),
      col("load_dts"), col("del_flag"), col("hash_diff"),
      col("record_source"), col("run_id"),
      col("o_orderstatus"), col("o_orderpriority"))
  }

  val satFullSql: String =
    s"""$ordersSatSqlCtes
       |SELECT sat.order_hk,
       |       TIMESTAMP '2026-01-01 00:00:00' AS load_dts,
       |       TRUE AS del_flag,
       |       sat.hash_diff,
       |       'verify' AS record_source, CAST(1 AS BIGINT) AS run_id,
       |       sat.o_orderstatus, sat.o_orderpriority
       |FROM sat
       |WHERE sat.del_flag = FALSE
       |  AND NOT EXISTS (SELECT 1 FROM staged st WHERE st.order_hk = sat.order_hk AND st.o_orderkey % 5 <> 0)""".stripMargin

  // Lineitem-as-versioned-satellite: hk from l_orderkey, version time =
  // l_shipdate. Keyed on the natural long key (`__nk`); callers run the
  // latest-row/PIT aggregation on it, deferring what's deferrable below
  // the aggregation: the key hash (8-byte shuffle keys, 6M → 1.5M md5
  // calls — measured 1.6× at sf1) and the constant audit columns.
  // hash_diff is NOT deferrable: it is the final ordering tiebreak and the
  // corpus really reaches it — (l_shipdate, l_linenumber) ties within an
  // order exist in the driver data (8 groups at sf0.01; an earlier attempt
  // to defer the md5 below the aggregation picked different winners and
  // hash-mismatched the oracle).
  // `clustered`: current-view/as-of consumers aggregate DIRECTLY on this
  // frame, so the one key-hash shuffle IS the agg's distribution — the
  // latest-row then runs partition-local and hash-based (see
  // Tables.clusterBy for why this beats partial+exchange on the unclustered
  // layouts these files have; a bucketed vault table would skip it via its
  // own layout). The PIT-table consumer must pass clustered = false: it
  // UNIONS this frame with the key set before its own single aggregation
  // exchange, and a union destroys co-partitioning — pre-clustering there
  // ships the whole satellite through an exchange that buys nothing.
  // clusterByGuarded: under the default `spark.graft.skewGuard=auto` a
  // degenerate key distribution (null/sentinel keys) above the size gate
  // drops to the skew-immune partial-before-exchange shape; `off`, and any
  // input under the gate, keep this exact plan.
  private def lineitemSatNat(s: SparkSession, dir: String, clustered: Boolean = true): DataFrame = {
    val li = Tables.load(s, dir, "lineitem")
    (if (clustered) Tables.clusterByGuarded(li, "l_orderkey") else li).select(
      col("l_orderkey").as("__nk"),
      col("l_shipdate").as("load_dts"),
      HashGen.hashCols(Seq(col("l_partkey"), col("l_linenumber")), Algo).as("hash_diff"),
      col("l_linenumber").cast("long").as("run_id"),
      col("l_partkey"), col("l_suppkey"), col("l_quantity")
    )
  }

  /** Post-aggregation projection: hash `__nk` into `order_hk`, attach the
    * constant audit columns, restore the satellite column order. */
  private def hashNk(df: DataFrame): DataFrame =
    df.select(
      HashGen.hashCols(Seq(col("__nk")), Algo).as("order_hk"),
      col("load_dts"),
      lit(false).as("del_flag"),
      col("hash_diff"),
      lit("seed").as("record_source"),
      col("run_id"),
      col("l_partkey"), col("l_suppkey"), col("l_quantity"))

  private val lineitemSatSqlCte: String =
    s"""WITH sat AS (
       |  SELECT ${sqlHash("l_orderkey")} AS order_hk,
       |         l_shipdate AS load_dts,
       |         FALSE AS del_flag,
       |         ${sqlHash("l_partkey", "l_linenumber")} AS hash_diff,
       |         'seed' AS record_source,
       |         CAST(l_linenumber AS BIGINT) AS run_id,
       |         l_partkey, l_suppkey, l_quantity
       |  FROM lineitem)""".stripMargin

  /** #11: current view — latest row per key, deterministic tiebreak.
    * This caller PAIRS clusterBy sizing with the typed hash aggregate —
    * the r21-measured best on this shallow-history satellite (17.5 s vs
    * 20.9 s for the partial shape at sf10, whose struct-serialized
    * shuffle was 3.1 GB vs 1.7 GB raw rows — bench/r21_latest_sf10.log).
    * An explicit `latestShape=partial` conf (deep/wide/hostile-history
    * deployments) drops BOTH the clusterBy and the typed aggregate: the
    * declarative partial collapse replaces the exchange, so clustering
    * beneath it would ship the full history through an exchange the
    * partial makes unnecessary. */
  private def latestClustered(s: SparkSession): Boolean =
    graft.core.Confs.latestShape(s.conf) != "partial"

  def satCurrent(s: SparkSession, dir: String): DataFrame =
    hashNk(DvOps.currentRows(
      lineitemSatNat(s, dir, clustered = latestClustered(s)), "__nk", preferredShape = "hash"))

  val satCurrentSql: String =
    s"""$lineitemSatSqlCte
       |SELECT order_hk, load_dts, del_flag, hash_diff, record_source, run_id, l_partkey, l_suppkey, l_quantity
       |FROM (SELECT *, row_number() OVER (PARTITION BY order_hk ORDER BY load_dts DESC, run_id DESC, hash_diff DESC) AS rn FROM sat) x
       |WHERE rn = 1""".stripMargin

  /** #12: point-in-time view as of 1996-06-01. */
  def pitAsOf(s: SparkSession, dir: String): DataFrame =
    hashNk(DvOps.asOfRows(lineitemSatNat(s, dir, clustered = latestClustered(s)), "__nk",
      lit(Timestamp.valueOf("1996-06-01 00:00:00")), preferredShape = "hash"))

  val pitAsOfSql: String =
    s"""$lineitemSatSqlCte
       |SELECT order_hk, load_dts, del_flag, hash_diff, record_source, run_id, l_partkey, l_suppkey, l_quantity
       |FROM (SELECT *, row_number() OVER (PARTITION BY order_hk ORDER BY load_dts DESC, run_id DESC, hash_diff DESC) AS rn
       |      FROM sat WHERE load_dts <= TIMESTAMP '1996-06-01 00:00:00') x
       |WHERE rn = 1""".stripMargin

  /** #12a: PIT table — per hub key, the as-of load_dts of each satellite
    * (null when no version exists yet). Two sats over the same order hub:
    * the lineitem-versioned sat and a single-version orders sat. The as-of
    * row's load_dts is by definition max(load_dts ≤ ts) per key, which is
    * what the oracle computes; the Spark side runs the real
    * [[graft.dv.DvOps.pitTable]] fold (reference current-view semantics,
    * sql_templates.py:135-160, extended to a multi-sat snapshot). */
  def pitTableQ(s: SparkSession, dir: String): DataFrame = {
    val asOf = lit(Timestamp.valueOf("1996-06-01 00:00:00"))
    val orders = Tables.load(s, dir, "orders")
    // All three inputs key 1:1 off o_orderkey/l_orderkey — run the one-shot
    // PIT aggregation on the long key and hash the 1.5M output keys once,
    // instead of md5-ing all 9M input rows pre-shuffle.
    val keys = orders.select(col("o_orderkey").as("__nk"))
    val orderSat = orders.select(
      col("o_orderkey").as("__nk"),
      col("o_orderdate").as("load_dts"),
      lit(false).as("del_flag"),
      HashGen.hashCols(Seq(col("o_orderstatus")), Algo).as("hash_diff"),
      lit("seed").as("record_source"),
      lit(0L).as("run_id"),
      col("o_orderstatus")
    )
    val liSat = lineitemSatNat(s, dir, clustered = false)
    DvOps.pitTable(keys, "__nk", Seq("li" -> liSat, "ord" -> orderSat), asOf)
      .select(
        HashGen.hashCols(Seq(col("__nk")), Algo).as("order_hk"),
        col("li_load_dts"), col("ord_load_dts"))
  }

  val pitTableSql: String =
    s"""WITH k AS (SELECT DISTINCT ${sqlHash("o_orderkey")} AS order_hk FROM orders),
       | li AS (
       |  SELECT ${sqlHash("l_orderkey")} AS order_hk, max(l_shipdate) AS li_load_dts
       |  FROM lineitem WHERE l_shipdate <= TIMESTAMP '1996-06-01 00:00:00' GROUP BY 1),
       | os AS (
       |  SELECT ${sqlHash("o_orderkey")} AS order_hk, max(o_orderdate) AS ord_load_dts
       |  FROM orders WHERE o_orderdate <= TIMESTAMP '1996-06-01 00:00:00' GROUP BY 1)
       |SELECT k.order_hk, li.li_load_dts, os.ord_load_dts
       |FROM k LEFT JOIN li USING (order_hk) LEFT JOIN os USING (order_hk)""".stripMargin

  /** #13: full flow through FlowExecutor — file → staging → hash view →
    * hub + satellite loads into a fresh temp lake, returning the hub table.
    * Exercises the whole orchestration path (runinfo ledger, run-id alloc,
    * bucketed appends) under the driver's oracle compare. */
  /** The customer flow-metadata both flow-driven queries share (ONE
    * definition — the r20 review flagged the copies desynchronizing).
    * `entity` names the staging table and, through it, every vault target
    * (`hub_<entity>` / `hsat_<entity>`); `declareVault` adds the
    * hub/hsat TableColumn declarations the Graft facade derives catalog
    * schemas from (raw FlowExecutor queries need only stg + transitions). */
  private def customerFlowMeta(entity: String, declareVault: Boolean): graft.meta.MetaStore = {
    val stg = Seq(
      graft.meta.TableColumn(entity, "stg", "c_custkey", "BIGINT", 1, "c"),
      graft.meta.TableColumn(entity, "stg", "c_name", "VARCHAR", 2, "c"),
      graft.meta.TableColumn(entity, "stg", "c_mktsegment", "VARCHAR", 3, "c"))
    val vault = if (!declareVault) Nil else Seq(
      graft.meta.TableColumn(entity, "hub", "c_custkey", "BIGINT", 1, "bk"),
      graft.meta.TableColumn(entity, "hsat", "customer", "", 0, "hk"),
      graft.meta.TableColumn(entity, "hsat", "c_name", "VARCHAR", 1, "f"),
      graft.meta.TableColumn(entity, "hsat", "c_mktsegment", "VARCHAR", 2, "f"))
    graft.meta.MetaStore(
      tables = stg ++ vault,
      transitions = Seq(
        Transition(entity, "c_custkey", s"hub_$entity", "c_custkey_bk", "customer", 1, raw = false, None, "bk"),
        Transition(entity, "c_name", s"hsat_$entity", "c_name", "customer_details", 1, raw = false, None, "f"),
        Transition(entity, "c_mktsegment", s"hsat_$entity", "c_mktsegment", "customer_details", 2, raw = false, None, "f"),
        Transition(entity, "customer_hk", s"hsat_$entity", "customer", "customer_details", 0, raw = false, None, "sat_delta")
      ))
  }

  def flowHub(s: SparkSession, dir: String): DataFrame = {
    // Unique per-call scratch root (concurrent sessions/bench reps must not
    // clobber each other's lake), reaped at JVM exit — the returned DataFrame
    // lazily reads this lake, so we can't delete earlier. streamTempDir:
    // same cluster-portable resolution as every other scratch landing (and
    // the RAM-backed root on this host — real lake writes are the row's
    // dominant cost, exactly like the streaming replays).
    val root = graft.core.Scratch.streamTempDir(s, "graft_flow_lake_")
    val lake = new graft.core.Lake(s, root, buckets = 4)
    val flow = new graft.etl.FlowExecutor(lake, customerFlowMeta("customer", declareVault = false), Algo)
    val r = flow.executeFlow(
      "customer", "verify", Some(s"$dir/customer.parquet"), Some(ctx.loadDts))
    require(r.status == "success", s"flow failed: ${r.errors.mkString("; ")}")
    lake.read("dv", "hub_customer")
      .select(col("customer_hk"), col("load_dts"), col("record_source"), col("run_id"), col("c_custkey_bk"))
  }

  val flowHubSql: String =
    s"""SELECT DISTINCT ${sqlHash("c_custkey")} AS customer_hk,
       |       TIMESTAMP '2026-01-01 00:00:00' AS load_dts,
       |       'verify' AS record_source,
       |       CAST(1 AS BIGINT) AS run_id,
       |       c_custkey AS c_custkey_bk
       |FROM customer""".stripMargin

  /** #12e (r20): the QUALIFIED catalog surface — a facade-built vault
    * queried through reference-style `dv.<table>` / `bv.<sat>_cv` SQL
    * names (mallarddv.py:87 sql() habits verbatim), WITH a compaction in
    * between so the hash-match also proves the catalog followed the
    * generation swap (a registration pinned to the superseded generation
    * would read stale files, or nothing once they expire). Oracle: the same hub+current-sat
    * join derived straight from the staging parquet. */
  def catalogSql(s: SparkSession, dir: String): DataFrame = {
    val root = graft.core.Scratch.streamTempDir(s, "graft_catalog_lake_")
    // QUERY-SCOPED entity name: the facade registers session-GLOBAL catalog
    // objects (stg/dv/bv names), and a per-call scratch lake must never
    // re-point a name a user's own vault could plausibly hold — e.g.
    // `dv.hub_customer` (r20 review finding). `catverify_customer` keeps
    // the registration exercise real while making collision impossible.
    val g = new graft.Graft(s, root, customerFlowMeta("catverify_customer", declareVault = true), None, Algo)
    g.initVault()
    val r = g.executeFlow(
      "catverify_customer", "verify", Some(s"$dir/customer.parquet"), Some(ctx.loadDts))
    require(r.status == "success", s"flow failed: ${r.errors.mkString("; ")}")
    g.compact("dv", "hub_catverify_customer")
    g.compact("dv", "hsat_catverify_customer")
    g.sql(
      """SELECT h.catverify_customer_hk AS customer_hk, h.c_custkey_bk, s.c_name, s.c_mktsegment
        |FROM dv.hub_catverify_customer h
        |JOIN bv.hsat_catverify_customer_cv s ON h.catverify_customer_hk = s.customer_hk
        |WHERE NOT s.del_flag""".stripMargin)
  }

  val catalogSqlSql: String =
    s"""SELECT DISTINCT ${sqlHash("c_custkey")} AS customer_hk,
       |       c_custkey AS c_custkey_bk,
       |       c_name, c_mktsegment
       |FROM customer""".stripMargin

  /** Session confs scoped to the streaming REPLAY queries:
    *
    *  - `fileChecksum.enabled=false` — Spark 4.1 writes a checksum sidecar
    *    per checkpoint file and BLOCKS the state commit on it
    *    (ChecksumCheckpointFileManager.awaitResult in every task's stack);
    *    measured 8.0 -> 4.5 s on the events_stream_join floor. The replay
    *    checkpoints are ephemeral (JVM-exit reaped) and never resumed, so
    *    checksum protection buys nothing here. Production streams passing
    *    their own durable checkpoint keep Spark's default.
    *  - 8 shuffle partitions, for `stateful` rows only (the
    *    `events_stream_*` replays; the DV replays are stateless
    *    foreachBatch loads whose hash-view and anti-join plans run at the
    *    session width) — streaming state tasks pay a fixed per-task setup
    *    (4 OneSideHashJoiner codegen inits per join task + state store
    *    commit files); at 32 partitions that fixed cost dominated
    *    (task stacks: ~3 s blocked, <0.1 s CPU). 8 tasks bound the replay's
    *    per-partition state at sf10-stress scale to ~1M rows — in-map —
    *    while cutting the floor 4.5 -> 2.5 s. A production stream sizes
    *    state partitions to ITS key cardinality at stream creation (they
    *    are fixed for a checkpoint's lifetime).
    *
    * The stream runs to completion inside `body` (AvailableNow +
    * awaitTermination), so restoring the confs afterwards is sound;
    * registered queries run sequentially under Verify/Bench. */
  private def streamReplay[A](s: SparkSession, stateful: Boolean = true)(body: => A): A = {
    val kvs = (if (stateful) Seq("spark.sql.shuffle.partitions" -> "8") else Nil) ++ Seq(
      "spark.sql.streaming.checkpoint.fileChecksum.enabled" -> "false",
      // events replays need NANOS-typed driver parquet readable as long
      // (Tables.normalizeTs handles both encodings); set + RESTORED here
      // rather than inside each query body, where it silently leaked into
      // the session past the replay scope this helper exists to contain —
      // micros-typed DV replays are unaffected
      "spark.sql.legacy.parquet.nanosAsLong" -> "true")
    val prev = kvs.map { case (k, _) => k -> s.conf.getOption(k) }
    kvs.foreach { case (k, v) => s.conf.set(k, v) }
    try body finally prev.foreach {
      case (k, Some(v)) => s.conf.set(k, v)
      case (k, None) => s.conf.unset(k)
    }
  }

  /** Scratch lake + staged file-stream source for the streaming oracle
    * queries. The file-stream source watches a DIRECTORY; stage the input
    * into one (testdata is read-only, so copy rather than symlink). The
    * table may be a single file (driver testdata) or a Spark-written
    * directory of part files (scaled bench data) — flatten either shape.
    * The lake root is unique per call (concurrent sessions/bench reps must
    * not clobber each other's lake/checkpoint) and reaped at JVM exit —
    * the returned DataFrame lazily reads this lake, so not earlier. */
  private def stagedStream(s: SparkSession, dir: String, table: String): (graft.core.Lake, DataFrame, String) = {
    // RAM-backed root (Scratch.streamRoot): the checkpoint fsync-per-batch
    // was the dominant cost of every streaming row on this container's
    // disk — events_stream_join floor 7.1 -> ~2 s with the same code
    // (BASELINE.md has the A/B). These lakes are ephemeral
    // replay harnesses (AvailableNow + JVM-exit reap), so tmpfs is sound;
    // production streams pass their own durable checkpoint to streamFlow.
    // All staging-dir handling goes through the Hadoop FS API: the Scratch
    // root honors spark.graft.scratch.dir, which may be a non-local URI
    // (hdfs://, s3a://) — java.nio.Paths would then create a bogus local
    // './hdfs:/...' dir while the Lake writes to the real remote path.
    val root = graft.core.Scratch.streamTempDir(s, "graft_stream_lake_")
    val hconf = s.sparkContext.hadoopConfiguration
    val rootPath = new org.apache.hadoop.fs.Path(root)
    val fs = rootPath.getFileSystem(hconf)
    fs.mkdirs(rootPath)
    // Bucket count pinned to cores (cap 16): a bucket is written by one
    // task, so the bucket count caps a large append's write parallelism
    // (AQE coalesces only small partitions), and 4 buckets serialized the
    // sf1 replay's parquet encode into 4× ~35 MB tasks (~1.9 s stage wall,
    // the row's largest). Pinned, not sized: a stream's micro-batch has no
    // known size, so an unpinned lake would give it 16 buckets on any host.
    // Bucket count is lake LAYOUT — result rows and oracle hashes are
    // bucket-count-invariant.
    val lake = new graft.core.Lake(s, root,
      buckets = math.min(16, s.sparkContext.defaultParallelism))
    val srcDir = new org.apache.hadoop.fs.Path(rootPath, "src")
    fs.mkdirs(srcDir)
    val src = new org.apache.hadoop.fs.Path(dir, s"$table.parquet")
    val srcFs = src.getFileSystem(hconf)
    if (srcFs.getFileStatus(src).isDirectory) {
      srcFs.listStatus(src).filter(_.getPath.getName.endsWith(".parquet")).zipWithIndex
        .foreach { case (st, i) =>
          org.apache.hadoop.fs.FileUtil.copy(
            srcFs, st.getPath, fs, new org.apache.hadoop.fs.Path(srcDir, s"part_$i.parquet"),
            /* deleteSource = */ false, hconf)
        }
    } else
      org.apache.hadoop.fs.FileUtil.copy(
        srcFs, src, fs, new org.apache.hadoop.fs.Path(srcDir, s"$table.parquet"),
        /* deleteSource = */ false, hconf)
    val schema = s.read.parquet(s"$dir/$table.parquet").schema
    // maxFilesPerTrigger pinned far above any staged file count: the oracle
    // asserts run_id = 0, which requires ALL files to land in micro-batch 0
    // (AvailableNow would otherwise split at the 1000-file default).
    val staged = s.readStream.schema(schema)
      .option("maxFilesPerTrigger", "1000000")
      .parquet(srcDir.toString)
    (lake, staged, root)
  }

  /** Runs `staged` through [[graft.etl.FlowExecutor.streamFlow]] over
    * `transitions` (one source) with the pinned load_dts, to completion. */
  private def streamLoad(
      lake: graft.core.Lake, staged: DataFrame, root: String, transitions: Seq[Transition]): Unit =
    new graft.etl.FlowExecutor(lake, graft.meta.MetaStore(Nil, transitions), Algo)
      .streamFlow(transitions.head.sourceTable, staged, "verify", s"$root/ckpt", Some(ctx.loadDts))
      .awaitTermination()

  /** #16: streaming hub ingestion under the driver's oracle — customer.parquet
    * fed through [[streamLoad]] (Structured Streaming file source,
    * AvailableNow trigger completes synchronously) into a fresh temp lake;
    * result is the streamed hub table. The single input file lands in
    * micro-batch 0, so run_id (= batchId) and the pinned load_dts are
    * deterministic and the WHOLE row is hash-comparable. */
  def streamHub(s: SparkSession, dir: String): DataFrame = streamReplay(s, stateful = false) {
    val (lake, staged, root) = stagedStream(s, dir, "customer")
    streamLoad(lake, staged, root, Seq(
      Transition("customer", "c_custkey", "hub_customer", "c_custkey_bk", "customer", 1, raw = false, None, "bk")))
    lake.read("dv", "hub_customer")
      .select(col("customer_hk"), col("load_dts"), col("record_source"), col("run_id"), col("c_custkey_bk"))
  }

  val streamHubSql: String =
    s"""SELECT DISTINCT ${sqlHash("c_custkey")} AS customer_hk,
       |       TIMESTAMP '2026-01-01 00:00:00' AS load_dts,
       |       'verify' AS record_source,
       |       CAST(0 AS BIGINT) AS run_id,
       |       c_custkey AS c_custkey_bk
       |FROM customer""".stripMargin

  /** The customer hub and its `sat_delta` satellite, the transitions of
    * the two streaming satellite replays. */
  private val customerSatTransitions = Seq(
    Transition("customer", "c_custkey", "hub_customer", "c_custkey_bk", "customer", 1, raw = false, None, "bk"),
    Transition("customer", "customer_hk", "hsat_customer", "customer", "customer_details", 1, raw = false, None, "sat_delta"),
    Transition("customer", "c_name", "hsat_customer", "c_name", "customer_details", 1, raw = false, None, "f"),
    Transition("customer", "c_mktsegment", "hsat_customer", "c_mktsegment", "customer_details", 2, raw = false, None, "f"))

  /** #39a: streaming satellite (SCD2) ingestion under the driver's oracle —
    * customer.parquet through [[streamLoad]] into a fresh temp lake (empty
    * initial satellite, so every distinct staged version row inserts; the
    * same micro-batch also loads `hub_customer`); result is the streamed
    * satellite table. Single micro-batch ⇒ run_id (= batchId) 0 and the
    * pinned load_dts are deterministic, making the whole row
    * hash-comparable. */
  def streamSat(s: SparkSession, dir: String): DataFrame = streamReplay(s, stateful = false) {
    val (lake, staged, root) = stagedStream(s, dir, "customer")
    streamLoad(lake, staged, root, customerSatTransitions)
    lake.read("dv", "hsat_customer")
      .select(
        col("customer_hk"), col("load_dts"), col("del_flag"), col("hash_diff"),
        col("record_source"), col("run_id"), col("c_name"), col("c_mktsegment"))
  }

  val streamSatSql: String =
    s"""SELECT DISTINCT ${sqlHash("c_custkey")} AS customer_hk,
       |       TIMESTAMP '2026-01-01 00:00:00' AS load_dts,
       |       FALSE AS del_flag,
       |       ${sqlHash("c_name", "c_mktsegment")} AS hash_diff,
       |       'verify' AS record_source,
       |       CAST(0 AS BIGINT) AS run_id,
       |       c_name, c_mktsegment
       |FROM customer""".stripMargin

  /** #39b: streaming link ingestion under the driver's oracle —
    * orders.parquet through [[streamLoad]] into a fresh temp lake (empty
    * initial link, so every distinct staged relationship inserts; the same
    * micro-batch also loads `hub_customer` and `hub_order`); result is the
    * streamed link table. Single micro-batch ⇒ run_id (= batchId) 0 and the
    * pinned load_dts are deterministic, making the whole row
    * hash-comparable. Completes the streaming trio: hub + sat + link all
    * oracle-checked end-to-end. */
  def streamLink(s: SparkSession, dir: String): DataFrame = streamReplay(s, stateful = false) {
    val (lake, staged, root) = stagedStream(s, dir, "orders")
    streamLoad(lake, staged, root, Seq(
      Transition("orders", "o_custkey", "hub_customer", "c_custkey_bk", "customer", 1, raw = false, None, "bk"),
      Transition("orders", "o_orderkey", "hub_order", "o_orderkey_bk", "order", 1, raw = false, None, "bk"),
      Transition("orders", "customer", "link_order_customer", "customer_hk", "oc", 1, raw = false, None, "ll"),
      Transition("orders", "order", "link_order_customer", "order_hk", "oc", 2, raw = false, None, "ll")))
    lake.read("dv", "link_order_customer")
      .select(
        col("order_customer_hk"), col("load_dts"), col("record_source"),
        col("run_id"), col("customer_hk"), col("order_hk"))
  }

  val streamLinkSql: String =
    s"""SELECT DISTINCT ${sqlHash("o_custkey", "o_orderkey")} AS order_customer_hk,
       |       TIMESTAMP '2026-01-01 00:00:00' AS load_dts,
       |       'verify' AS record_source,
       |       CAST(0 AS BIGINT) AS run_id,
       |       ${sqlHash("o_custkey")} AS customer_hk,
       |       ${sqlHash("o_orderkey")} AS order_hk
       |FROM orders""".stripMargin

  /** Generation-staged source for the MULTI-BATCH incremental streaming
    * oracles: each generation DataFrame lands as ONE parquet file with a
    * strictly increasing modification time, and the returned stream reads
    * them with `maxFilesPerTrigger=1` — so AvailableNow drives exactly
    * one micro-batch per generation, in generation order, and
    * `run_id = batchId = generation` is deterministic end-to-end. This is
    * the semantics class the single-batch replays (run_id pinned 0) never
    * exercise: state folding ACROSS batch boundaries. */
  private def stagedGenStream(s: SparkSession, gens: Seq[DataFrame]): (graft.core.Lake, DataFrame, String) = {
    val root = graft.core.Scratch.streamTempDir(s, "graft_stream_gen_")
    val hconf = s.sparkContext.hadoopConfiguration
    val rootPath = new org.apache.hadoop.fs.Path(root)
    val fs = rootPath.getFileSystem(hconf)
    fs.mkdirs(rootPath)
    val lake = new graft.core.Lake(s, root,
      buckets = math.min(16, s.sparkContext.defaultParallelism))
    val srcDir = new org.apache.hadoop.fs.Path(rootPath, "src")
    fs.mkdirs(srcDir)
    // The file source orders pending files by modification time; stamp the
    // generations a minute apart (well past any FS timestamp granularity)
    // so batch order IS generation order. Values are relative to now —
    // only the ORDER matters, and fresh stamps keep maxFileAge pruning
    // out of play.
    val base = System.currentTimeMillis() - 3600000L
    gens.zipWithIndex.foreach { case (df, g) =>
      val tmp = new org.apache.hadoop.fs.Path(rootPath, s"gen_tmp_$g")
      df.coalesce(1).write.mode("overwrite").parquet(tmp.toString)
      val part = fs.listStatus(tmp).map(_.getPath).filter(_.getName.endsWith(".parquet")).head
      val dst = new org.apache.hadoop.fs.Path(srcDir, f"gen_$g%03d.parquet")
      org.apache.hadoop.fs.FileUtil.copy(fs, part, fs, dst, /* deleteSource = */ false, hconf)
      fs.setTimes(dst, base + g * 60000L, -1)
      fs.delete(tmp, true)
    }
    // FileStreamSource orders by modification time, and generation order IS
    // the replay's semantics (run_id = batchId) — but FileSystem.setTimes
    // is a silent no-op on object stores (S3A inherits the do-nothing
    // default), where upload timestamps can tie at second granularity.
    // Verify the stamps actually landed strictly increasing; fail loudly
    // rather than deliver generations out of order (r20 review finding).
    val stamped = (0 until gens.length).map(g =>
      fs.getFileStatus(new org.apache.hadoop.fs.Path(srcDir, f"gen_$g%03d.parquet"))
        .getModificationTime)
    require(stamped.sliding(2).forall(w => w.length < 2 || w(0) < w(1)),
      s"staged-generation mtimes not strictly increasing ($stamped) — this scratch " +
        "filesystem ignores setTimes (object store?); the multi-batch replay needs a " +
        "local/HDFS spark.graft.scratch.dir for deterministic micro-batch order")
    val staged = s.readStream.schema(gens.head.schema)
      .option("maxFilesPerTrigger", "1")
      .parquet(srcDir.toString)
    (lake, staged, root)
  }

  /** #16 (multi-batch): INCREMENTAL streaming hub load under the oracle —
    * three micro-batches with GROWING key subsets (batch g carries keys
    * with c_custkey % 3 ≤ g), so every key with c_custkey % 3 = 0 is
    * re-delivered in all three batches and the anti-join idempotency must
    * dedup it ACROSS batch boundaries, not within one. A key's hub row
    * therefore carries run_id = the first batch that contained it
    * = c_custkey % 3 — advancing run_ids and cross-batch state, the two
    * things the single-batch `dv_stream_hub` row can't check. */
  def streamHubMulti(s: SparkSession, dir: String): DataFrame = streamReplay(s, stateful = false) {
    val cust = Tables.load(s, dir, "customer")
    val gens = (0 to 2).map(g => cust.filter(pmod(col("c_custkey"), lit(3)) <= g))
    val (lake, staged, root) = stagedGenStream(s, gens)
    streamLoad(lake, staged, root, Seq(
      Transition("customer", "c_custkey", "hub_customer", "c_custkey_bk", "customer", 1, raw = false, None, "bk")))
    lake.read("dv", "hub_customer")
      .select(col("customer_hk"), col("load_dts"), col("record_source"), col("run_id"), col("c_custkey_bk"))
  }

  val streamHubMultiSql: String =
    s"""SELECT ${sqlHash("c_custkey")} AS customer_hk,
       |       TIMESTAMP '2026-01-01 00:00:00' AS load_dts,
       |       'verify' AS record_source,
       |       CAST(c_custkey % 3 AS BIGINT) AS run_id,
       |       c_custkey AS c_custkey_bk
       |FROM customer""".stripMargin

  /** #39a (multi-batch): INCREMENTAL streaming satellite load under the
    * oracle — every key appears in all three micro-batches, with the
    * payload MUTATING across generations (g≥1 rewrites c_mktsegment to
    * GEN1 for keys %5=0; g≥2 to GEN2 for keys %10=0). Each batch's delta
    * therefore compares staged hashdiffs against the satellite state the
    * PREVIOUS batch wrote: unchanged payloads must not re-version, changed
    * ones must insert with run_id = their batch. With one staged row per
    * key per batch, the insert set is exactly the run-length encoding of
    * each key's payload sequence — which is what the SQL twin's LAG
    * reproduces (latest-after-batch-g always equals payload g, inserted or
    * not, so "differs from latest" ⇔ "differs from previous generation"). */
  def streamSatMulti(s: SparkSession, dir: String): DataFrame = streamReplay(s, stateful = false) {
    val cust = Tables.load(s, dir, "customer")
    def seg(g: Int): Column = {
      val gen1 = when(pmod(col("c_custkey"), lit(5)) === 0, lit("GEN1")).otherwise(col("c_mktsegment"))
      if (g >= 2) when(pmod(col("c_custkey"), lit(10)) === 0, lit("GEN2")).otherwise(gen1)
      else if (g >= 1) gen1
      else col("c_mktsegment")
    }
    val gens = (0 to 2).map(g =>
      cust.select(col("c_custkey"), col("c_name"), seg(g).as("c_mktsegment")))
    val (lake, staged, root) = stagedGenStream(s, gens)
    streamLoad(lake, staged, root, customerSatTransitions)
    lake.read("dv", "hsat_customer")
      .select(
        col("customer_hk"), col("load_dts"), col("del_flag"), col("hash_diff"),
        col("record_source"), col("run_id"), col("c_name"), col("c_mktsegment"))
  }

  val streamSatMultiSql: String =
    s"""WITH gens AS (
       |  SELECT c_custkey, c_name, g,
       |         CASE WHEN g >= 2 AND c_custkey % 10 = 0 THEN 'GEN2'
       |              WHEN g >= 1 AND c_custkey % 5 = 0 THEN 'GEN1'
       |              ELSE c_mktsegment END AS c_mktsegment
       |  FROM customer CROSS JOIN (SELECT unnest([0, 1, 2]) AS g) t
       |), marked AS (
       |  SELECT gens.*, lag(c_mktsegment) OVER (PARTITION BY c_custkey ORDER BY g) AS prev
       |  FROM gens
       |)
       |SELECT ${sqlHash("c_custkey")} AS customer_hk,
       |       TIMESTAMP '2026-01-01 00:00:00' AS load_dts,
       |       FALSE AS del_flag,
       |       ${sqlHash("c_name", "c_mktsegment")} AS hash_diff,
       |       'verify' AS record_source,
       |       CAST(g AS BIGINT) AS run_id,
       |       c_name, c_mktsegment
       |FROM marked WHERE prev IS NULL OR prev <> c_mktsegment""".stripMargin

  /** #39c: streaming event-time windowed aggregation under the driver's
    * oracle — events.parquet through a file stream, 1-hour tumbling windows
    * with per-type counts and exact decimal sums, parquet-sunk per batch via
    * foreachBatch. Single micro-batch (maxFilesPerTrigger pinned high) in
    * complete output mode ⇒ batch 0 holds every window and the result is
    * hash-comparable to the batch twin. The watermark is declared (bounded
    * state at production scale, where batches keep arriving); complete mode
    * ignores it for emission, which is exactly what makes the one-shot
    * verification deterministic. n_users (count DISTINCT) is intentionally
    * absent: per-key exact distinct over an unbounded stream is not a
    * streaming-supported aggregate — the batch `events_hourly` row carries
    * that column. */
  def streamEventsHourly(s: SparkSession, dir: String): DataFrame = streamReplay(s) {
    val (_, staged, root) = stagedStream(s, dir, "events")
    val events = Tables.normalizeTs(staged)
    val out = s"$root/out"
    val q = events
      .withWatermark("ts", "1 hour")
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(
        count(lit(1)).as("n_events"),
        sum(col("value").cast("decimal(18,6)")).cast("double").as("sum_value"))
      .select(
        col("window.start").as("hour"), col("event_type"),
        col("n_events"), col("sum_value"))
      .writeStream
      .outputMode("complete")
      .option("checkpointLocation", s"$root/ckpt")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .foreachBatch { (batch: DataFrame, _: Long) =>
        batch.write.mode("overwrite").parquet(out)
        ()
      }
      .start()
    q.awaitTermination()
    s.read.parquet(out)
  }

  /** Stream-stream interval join, end-to-end: views joined to the same
    * user's purchases within 10 minutes, both sides of the SAME replayed
    * event stream. Watermarks on both sides plus the event-time range
    * condition are what bound the join state at scale — Spark evicts a
    * buffered view once the purchase-side watermark passes view_ts + 10 min
    * (without them, state grows with the stream). Inner join in Append
    * mode; on a finite AvailableNow replay every in-window pair lands in
    * batch 0, so the result equals the batch interval self-join exactly.
    *
    * The equi-key is (user, 10-minute bucket), not user alone — the same
    * band trick as the batch [[graft.functions.Joins]] interval join.
    * Spark's symmetric join buffers rows PER EQUI-KEY and evaluates the
    * range as a post-filter over every buffered row of the key, so keying
    * by user alone makes each task's work Σ_user(views × purchases) —
    * profiled at ~200 s CPU / 7 s floor on the month-spanning sf0.1 replay
    * (tmpfs checkpoints and the RocksDB store both left it unchanged:
    * it is probe CPU, not I/O — BASELINE.md r12). A view can only match
    * purchases in its own or the next bucket, so each view is buffered
    * under those two keys and every in-window pair still meets EXACTLY
    * once (bucket(p) ∈ {bucket(v), bucket(v)+1} and the two keys differ);
    * probes collapse to per-(user, bucket) cardinalities. */
  def streamEventsJoin(s: SparkSession, dir: String): DataFrame = streamReplay(s) {
    val (_, staged, root) = stagedStream(s, dir, "events")
    val ev = Tables.normalizeTs(staged)
    val bucketSecs = 600L // == the 10-minute join window
    val views = ev.filter(col("event_type") === "view")
      .select(col("user_id"), col("event_id").as("view_id"), col("ts").as("view_ts"))
      .withWatermark("view_ts", "1 hour")
      .withColumn("bk", explode(array(
        floor(unix_micros(col("view_ts")) / (bucketSecs * 1000000L)),
        floor(unix_micros(col("view_ts")) / (bucketSecs * 1000000L)) + 1L)))
    val purchases = ev.filter(col("event_type") === "purchase")
      .select(col("user_id").as("p_user_id"), col("event_id").as("purchase_id"), col("ts").as("purchase_ts"))
      .withWatermark("purchase_ts", "1 hour")
      .withColumn("p_bk", floor(unix_micros(col("purchase_ts")) / (bucketSecs * 1000000L)))
    val out = s"$root/out"
    val q = views.join(
        purchases,
        col("user_id") === col("p_user_id") &&
          col("bk") === col("p_bk") &&
          col("purchase_ts") >= col("view_ts") &&
          col("purchase_ts") <= col("view_ts") + expr("INTERVAL 10 MINUTES"))
      .select(col("user_id"), col("view_id"), col("purchase_id"))
      .writeStream
      .outputMode("append")
      .option("checkpointLocation", s"$root/ckpt")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .foreachBatch { (batch: DataFrame, _: Long) =>
        batch.write.mode("append").parquet(out)
        ()
      }
      .start()
    q.awaitTermination()
    s.read.parquet(out)
  }

  val streamEventsJoinSql: String =
    """SELECT v.user_id, v.event_id AS view_id, p.event_id AS purchase_id
      |FROM events v JOIN events p
      |  ON v.user_id = p.user_id
      | AND v.event_type = 'view' AND p.event_type = 'purchase'
      | AND p.ts >= v.ts AND p.ts <= v.ts + INTERVAL 10 MINUTE""".stripMargin

  /** Streaming stateful dedup, end-to-end: distinct (user_id, event_type)
    * pairs from a file-replayed event stream via `dropDuplicates` — Spark
    * keeps one state row per key and Append mode emits exactly the
    * first-sights. State is bounded by KEY cardinality (users × types),
    * not stream length, so it holds at 100 TB for dimension-like keys; an
    * unbounded key (event_id, content hash) would instead use
    * `dropDuplicatesWithinWatermark` so state stays inside the watermark
    * horizon. Equal to batch SELECT DISTINCT. */
  def streamEventsDedup(s: SparkSession, dir: String): DataFrame = streamReplay(s) {
    val (_, staged, root) = stagedStream(s, dir, "events")
    val out = s"$root/out"
    val q = staged
      .select(col("user_id"), col("event_type"))
      .dropDuplicates("user_id", "event_type")
      .writeStream
      .outputMode("append")
      .option("checkpointLocation", s"$root/ckpt")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .foreachBatch { (batch: DataFrame, _: Long) =>
        batch.write.mode("append").parquet(out)
        ()
      }
      .start()
    q.awaitTermination()
    s.read.parquet(out)
  }

  val streamEventsDedupSql: String =
    "SELECT DISTINCT user_id, event_type FROM events"

  /** #39b-wm: WATERMARK-BOUNDED streaming dedup, end-to-end — the unbounded
    * -key twin of [[streamEventsDedup]]. The dedup key here is `event_id`,
    * which grows with the stream: plain `dropDuplicates` state would grow
    * without bound at 100 TB, so this uses `dropDuplicatesWithinWatermark`
    * — one state row per key only until the watermark passes the event's
    * own time + delay, after which the row is evicted (state ∝ horizon
    * width × arrival rate, NOT stream length; StreamingSpec pins the
    * eviction with a re-emission probe past the horizon).
    *
    * Replayed as THREE generation micro-batches: the full events table,
    * then two re-delivered slices (event_id % 3 / % 7) — the at-least-once
    * redelivery shape. Both re-deliveries arrive inside the 90-day horizon
    * (the corpus spans ~30 days), so every duplicate is dropped ACROSS
    * batch boundaries and the appended first-sights equal the batch
    * DISTINCT — event_id is unique in the corpus, making the whole row
    * set hash-comparable. */
  def streamEventsDedupWm(s: SparkSession, dir: String): DataFrame = streamReplay(s) {
    val events = Tables.loadEvents(s, dir)
      .select(col("event_id"), col("ts"), col("user_id"), col("event_type"))
    val gens = Seq(
      events,
      events.filter(pmod(col("event_id"), lit(3)) === 0),
      events.filter(pmod(col("event_id"), lit(7)) === 0))
    val (_, staged, root) = stagedGenStream(s, gens)
    val out = s"$root/out"
    val q = staged
      .withWatermark("ts", "90 days")
      .dropDuplicatesWithinWatermark("event_id")
      .writeStream
      .outputMode("append")
      .option("checkpointLocation", s"$root/ckpt")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .foreachBatch { (batch: DataFrame, _: Long) =>
        batch.write.mode("append").parquet(out)
        ()
      }
      .start()
    q.awaitTermination()
    s.read.parquet(out)
  }

  val streamEventsDedupWmSql: String =
    "SELECT event_id, ts, user_id, event_type FROM events"

  val streamEventsHourlySql: String =
    """SELECT date_trunc('hour', ts) AS hour, event_type,
      | COUNT(*) AS n_events,
      | CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS sum_value
      |FROM events GROUP BY 1, 2""".stripMargin

  /** Streaming gap sessionization, end-to-end: the `events` table replayed
    * through a file stream into `StreamingDv.sessionize`
    * (flatMapGroupsWithState, Append mode, event-time timeout), landed via
    * foreachBatch, equal to the batch lag-window query.
    *
    * Append mode only emits CLOSED sessions — each user's final session
    * would stay in state forever on a finite replay. The flush is a
    * SENTINEL event per user, two gaps past the global max event time,
    * appended to the staged source before the stream starts: in batch 0 it
    * closes every real session (gap exceeded), while the sentinel's own
    * singleton session stays un-emitted — open in state, and its timeout
    * (end + gap) sits strictly past the final watermark (max ts, delay 0)
    * by construction. Emitted rows are therefore exactly the batch
    * sessionization, with no reliance on timeout batches at all. */
  def streamEventsSessions(s: SparkSession, dir: String): DataFrame = streamReplay(s) {
    val (_, staged, root) = stagedStream(s, dir, "events")
    val srcDir = s"$root/src"
    val gapUs = 1800L * 1000000L
    val raw = s.read.parquet(srcDir)
    val isNanos = raw.schema("ts").dataType == org.apache.spark.sql.types.LongType
    // cast-to-timestamp first: 2026-08 driver data is naive micros (NTZ),
    // which unix_micros rejects; under the UTC session the cast is the
    // wall-clock identity, and on already-LTZ scaled copies it's a no-op.
    val usCol = if (isNanos) expr("ts div 1000") else expr("unix_micros(cast(ts as timestamp))")
    val maxUs = raw.select(max(usCol).as("m"))
    val sentinels = raw.select(col("user_id")).distinct()
      .crossJoin(broadcast(maxUs))
      .withColumn("sent_us", col("m") + lit(2L * gapUs))
    val sentCols = raw.schema.fields.map { f =>
      (f.name match {
        case "user_id" => col("user_id")
        case "ts" => if (isNanos) col("sent_us") * 1000L else expr("timestamp_micros(sent_us)")
        case "event_id" => lit(-1L)
        case "event_type" => lit("__sentinel__")
        case "value" => lit(0.0)
        case _ => lit("")
      }).cast(f.dataType).as(f.name)
    }
    sentinels.select(sentCols.toIndexedSeq: _*).coalesce(1).write.mode("append").parquet(srcDir)

    val events = Tables.normalizeTs(staged)
    val out = s"$root/out"
    val q = graft.streaming.StreamingDv.sessionize(events, gapMinutes = 30, delayThreshold = "0 seconds")
      .writeStream
      .outputMode("append")
      .option("checkpointLocation", s"$root/ckpt")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .foreachBatch {
        (batch: org.apache.spark.sql.Dataset[graft.streaming.StreamingDv.SessionOut], _: Long) =>
          batch.write.mode("append").parquet(out)
          ()
      }
      .start()
    q.awaitTermination()
    s.read.parquet(out)
  }

  /** Batch twin of the streaming sessionizer's emission (sessions without
    * the per-user ordinal — a closed session is identified by its bounds). */
  val streamEventsSessionsSql: String =
    """WITH e AS (
      |  SELECT user_id, ts, event_id, lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_ts
      |  FROM events),
      | s AS (
      |  SELECT user_id, ts,
      |         CAST(SUM(CASE WHEN prev_ts IS NULL OR ts - prev_ts > INTERVAL 30 MINUTE THEN 1 ELSE 0 END)
      |           OVER (PARTITION BY user_id ORDER BY ts, event_id ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_id
      |  FROM e)
      |SELECT user_id, CAST(COUNT(*) AS BIGINT) AS n_events, MIN(ts) AS session_start, MAX(ts) AS session_end
      |FROM s GROUP BY user_id, session_id""".stripMargin

  /** #2: metadata-typed staging load (projection + cast from metadata types). */
  def stgLoadCustomer(s: SparkSession, dir: String): DataFrame = {
    val cols = Seq(
      ("c_custkey", "BIGINT"), ("c_name", "VARCHAR"), ("c_nationkey", "INTEGER"),
      ("c_acctbal", "DOUBLE"), ("c_mktsegment", "VARCHAR")
    )
    graft.etl.Staging.project(Tables.load(s, dir, "customer"), cols)
  }

  val stgLoadCustomerSql: String =
    "SELECT c_custkey, c_name, CAST(c_nationkey AS INTEGER) AS c_nationkey, c_acctbal, c_mktsegment FROM customer"

  /** #12b under the driver's oracle: the full bucketed-lake lifecycle —
    * three bucketed appends (a growing vault accumulating small files), a
    * staged compaction rewriting every bucket, then bucket-pruned point
    * lookups reading the compacted table. Any corruption in the append
    * bucketing, the compact swap, or the write/read bucket-derivation
    * agreement surfaces as missing/duplicated lookup rows against the
    * DuckDB twin. Lookup keys are ≤ 100 so the row exists at every sf the
    * driver runs (sf0.001 has 150 customers). */
  val lakeLookupKeys: Seq[Long] = Seq(7L, 13L, 42L, 57L, 91L)

  def lakeRoundtrip(s: SparkSession, dir: String): DataFrame = {
    // Scratch-routed (was Files.createTempDirectory): cluster-portable and
    // RAM-backed on this host — see flowHub's note.
    val root = graft.core.Scratch.streamTempDir(s, "graft_lake_rt_")
    val lake = new graft.core.Lake(s, root, buckets = 8)
    val cust = Tables.load(s, dir, "customer")
      .select(col("c_custkey"), col("c_name"), col("c_acctbal"))
      .withColumn("ck", col("c_custkey").cast("string"))
    // Three appends split by key residue — every bucket receives rows from
    // every append, the shape compaction exists to clean up.
    (0 until 3).foreach { r =>
      lake.appendBucketed(cust.filter(col("c_custkey") % 3 === r), "dv", "cust_lake", "ck")
    }
    val (before, after) = lake.compact("dv", "cust_lake")
    require(after <= before, s"compact grew the table: $before -> $after files")
    lakeLookupKeys
      .map(k => lake.lookupBucketed("dv", "cust_lake", "ck", k.toString))
      .reduce(_ unionAll _)
      .select(col("c_custkey"), col("c_name"), col("c_acctbal"))
  }

  val lakeRoundtripSql: String =
    s"""SELECT c_custkey, c_name, c_acctbal FROM customer
       |WHERE c_custkey IN (${lakeLookupKeys.mkString(", ")})""".stripMargin

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "lake_roundtrip" -> (lakeRoundtrip _),
    "stg_load_customer" -> (stgLoadCustomer _),
    "dv_hash_hub" -> (hashHub _),
    "dv_hash_composite" -> (hashComposite _),
    "dv_hash_link" -> (hashLink _),
    "dv_hash_sat" -> (hashSat _),
    "dv_hub_load" -> (hubLoad _),
    "dv_link_load" -> (linkLoad _),
    "dv_sat_delta" -> (satDelta _),
    "dv_sat_full" -> (satFull _),
    "dv_sat_current" -> (satCurrent _),
    "dv_pit_asof" -> (pitAsOf _),
    "dv_pit_table" -> (pitTableQ _),
    "dv_flow_hub" -> (flowHub _),
    "dv_catalog_sql" -> (catalogSql _),
    "dv_stream_hub" -> (streamHub _),
    "dv_stream_sat" -> (streamSat _),
    "dv_stream_link" -> (streamLink _),
    "dv_stream_hub_multi" -> (streamHubMulti _),
    "dv_stream_sat_multi" -> (streamSatMulti _),
    "events_stream_hourly" -> (streamEventsHourly _),
    "events_stream_sessions" -> (streamEventsSessions _),
    "events_stream_dedup" -> (streamEventsDedup _),
    "events_stream_dedup_wm" -> (streamEventsDedupWm _),
    "events_stream_join" -> (streamEventsJoin _)
  )

  val oracles: Map[String, String] = Map(
    "lake_roundtrip" -> lakeRoundtripSql,
    "stg_load_customer" -> stgLoadCustomerSql,
    "dv_hash_hub" -> hashHubSql,
    "dv_hash_composite" -> hashCompositeSql,
    "dv_hash_link" -> hashLinkSql,
    "dv_hash_sat" -> hashSatSql,
    "dv_hub_load" -> hubLoadSql,
    "dv_link_load" -> linkLoadSql,
    "dv_sat_delta" -> satDeltaSql,
    "dv_sat_full" -> satFullSql,
    "dv_sat_current" -> satCurrentSql,
    "dv_pit_asof" -> pitAsOfSql,
    "dv_pit_table" -> pitTableSql,
    "dv_flow_hub" -> flowHubSql,
    "dv_catalog_sql" -> catalogSqlSql,
    "dv_stream_hub" -> streamHubSql,
    "dv_stream_sat" -> streamSatSql,
    "dv_stream_link" -> streamLinkSql,
    "dv_stream_hub_multi" -> streamHubMultiSql,
    "dv_stream_sat_multi" -> streamSatMultiSql,
    "events_stream_hourly" -> streamEventsHourlySql,
    "events_stream_sessions" -> streamEventsSessionsSql,
    "events_stream_dedup" -> streamEventsDedupSql,
    "events_stream_dedup_wm" -> streamEventsDedupWmSql,
    "events_stream_join" -> streamEventsJoinSql
  )
}
