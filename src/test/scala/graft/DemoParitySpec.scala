package graft

import java.sql.Timestamp

import org.apache.spark.sql.functions._

import graft.dv.HashGen

/** A reference-style demo vault — metadata CSVs, a customer file and a
  * stg view script in the reference's layout (src/test/resources/demo) —
  * run through the facade end to end.
  *
  * The fixture exercises paths the synthetic tests don't: two bk groups
  * loading the SAME hub (self-referencing customer/referencer), a NULL
  * business key, a self-link with a degenerate key, a link satellite with
  * no payload fields (hashdiff falls back to the link hash key), a
  * composite-key hub (`_cbk` columns), and a stg_vw script with
  * `stg.`-qualified names. Expected values are derived by hand from the
  * two customer rows: (1, ref-a, referenced_by NULL) and (2, ref-b,
  * referenced_by 1).
  */
class DemoParitySpec extends SparkSpec {

  private val demo =
    java.nio.file.Paths.get(getClass.getResource("/demo/tables.csv").toURI).getParent.toString

  private def md5Hex(s: String): String =
    java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString

  test("demo vault: metadata, flow, scripts, qualified SQL, claim-guarded re-submission") {
    val root = tmpDir("demo")
    val g = Graft.fromCsv(
      spark, s"$root/lake",
      s"$demo/tables.csv", s"$demo/transitions.csv",
      scriptsPath = Some(s"$demo/models"),
      algo = HashGen.Md5)

    val created = g.initVault()
    assert(created.contains("dv.hub_customer"))
    assert(created.contains("dv.hub_product"))
    assert(created.contains("dv.link_customer__referencer"))
    assert(created.contains("dv.lsat_customer__referencer"))
    assert(created.contains("stg_vw.customer_vw"))
    // composite product hub got _cbk business keys
    assert(g.table("dv", "hub_product").columns.toSeq.takeRight(2) == Seq("id_cbk", "product_type_cbk"))

    val r = g.executeFlow(
      "customer", "demo-customer", Some(s"$demo/data/customer.csv"),
      Some(Timestamp.valueOf("2026-01-01 00:00:00")))
    assert(r.status == "success", r.errors.mkString("; "))

    // hub: ids 1,2 from the customer group + the NULL referenced_by key from
    // the referencer group (md5('') — the reference inserts it too); id 1
    // arrives twice and the second group's anti-join drops it.
    val hub = g.table("dv", "hub_customer")
    assert(hub.count() == 3)
    assert(hub.filter(col("id_bk").isNull).count() == 1)
    // hash keys: md5(upper(concat_ws('||', coalesce(bk, '')))) — the NULL
    // key hashes as the empty string
    assert(hub.select("customer_hk").collect().map(_.getString(0)).toSet ==
      Set(md5Hex("1"), md5Hex("2"), md5Hex("")))

    // self-link with degenerate key: 2 staged combinations, both new.
    val link = g.table("dv", "link_customer__referencer")
    assert(link.count() == 2)
    assert(link.columns.contains("customer_hk") && link.columns.contains("referencer_hk")
      && link.columns.contains("reference_code_dk"))
    // link key = legs' bk source fields then the degenerate key, upper-cased
    assert(link.select("customer__referencer_hk").collect().map(_.getString(0)).toSet ==
      Set(md5Hex("1||||REF-A"), md5Hex("2||1||REF-B")))
    assert(link.filter(col("customer_hk") === md5Hex("2")).select("referencer_hk", "reference_code_dk")
      .collect().map(r => (r.getString(0), r.getString(1))).toSeq == Seq((md5Hex("1"), "ref-b")))

    // link satellite with NO payload fields: hashdiff = the link hash key.
    val lsat = g.table("dv", "lsat_customer__referencer")
    assert(lsat.count() == 2)
    assert(lsat.select(col("customer__referencer_hk") === col("hash_diff")).collect().forall(_.getBoolean(0)))

    // hub satellite payload (mapped as `c` in the demo metadata).
    val hsat = g.table("dv", "hsat_customer_details")
    assert(hsat.count() == 2)
    assert(hsat.filter(col("customer_hk") === md5Hex("1")).select("name", "email", "hash_diff")
      .collect().map(r => (r.getString(0), r.getString(1), r.getString(2))).toSeq ==
      Seq(("Ann", "ann@example.com", md5Hex("ANN||ANN@EXAMPLE.COM"))))

    // the reference's stg view script ran verbatim against stg.customer.
    val vw = g.sql("SELECT * FROM stg.customer_vw")
    assert(vw.count() == 2)
    assert(vw.columns.contains("email"))

    // idempotency on the demo file, exactly like the reference's runner.
    assert(g.executeFlow("customer", "demo-customer", Some(s"$demo/data/customer.csv")).skipped)

    // Reference-style QUALIFIED SQL over the vault (mallarddv.py:87 — the
    // sql() escape hatch queries dv.* / bv.* schema names directly in
    // DuckDB). r19 verdict #2: these names must work verbatim here.
    assert(g.sql("SELECT * FROM dv.hub_customer").count() == 3)
    assert(g.sql(
      "SELECT h.id_bk, s.email FROM dv.hub_customer h " +
        "JOIN dv.hsat_customer_details s ON h.customer_hk = s.customer_hk " +
        "WHERE h.id_bk IS NOT NULL").count() == 2)
    // bv current view, qualified like the reference's CREATE_CURRENT_VIEW
    // target schema; equal to the engine's own currentRows surface.
    val bvCv = g.sql("SELECT * FROM bv.hsat_customer_details_cv")
    assert(bvCv.columns.toSeq == g.table("dv", "hsat_customer_details").columns.toSeq)
    assert(bvCv.count() == 2)

    // ... and the catalog must FOLLOW THE GENERATION: after a compact the
    // data moves to `gen-2/`, and the qualified names must still resolve
    // to live files (a registration pinned to `gen-1/` would chase deleted
    // parts after the next compact's expire).
    g.compact("dv", "hub_customer")
    g.compact("dv", "hsat_customer_details")
    assert(g.lake.dataPath("dv", "hub_customer").endsWith(s"${graft.core.Lake.GenPrefix}2"))
    assert(g.sql("SELECT * FROM dv.hub_customer").count() == 3)
    assert(g.sql("SELECT count(*) AS n FROM bv.hsat_customer_details_cv")
      .collect().head.getLong(0) == 2L)
    // second compact EXPIRES the first generation's files — a stale
    // registration would now throw FILE_NOT_EXIST rather than miscount
    g.compact("dv", "hub_customer")
    assert(g.lake.dataPath("dv", "hub_customer").endsWith(s"${graft.core.Lake.GenPrefix}3"))
    assert(g.sql("SELECT * FROM dv.hub_customer").count() == 3)

    // incremental load through the claim-guarded flow path still lands in
    // the view surface (same-generation appends: listing refresh, no
    // re-registration needed)
    val extra = tmpDir("demo_extra")
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(s"$extra/more.csv"),
      java.nio.file.Files.readString(java.nio.file.Paths.get(s"$demo/data/customer.csv"))
        .linesIterator.toSeq.head + "\n" +
        "9,Zed,zed@example.com,3,2026-01-02,9,active")
    val r2 = g.executeFlow("customer", "demo-customer-2", Some(s"$extra/more.csv"),
      Some(Timestamp.valueOf("2026-01-02 00:00:00")))
    assert(r2.status == "success", r2.errors.mkString("; "))
    assert(g.sql("SELECT * FROM dv.hub_customer").count() == 4)
  }
}
