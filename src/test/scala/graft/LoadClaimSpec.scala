package graft

import java.sql.Timestamp
import java.util.concurrent.{CountDownLatch, TimeUnit}

import org.apache.spark.sql.functions._

import graft.core.{Confs, Lake}
import graft.dv.HashGen
import graft.etl.{DvError, FlowExecutor}
import graft.meta.{MetaStore, TableColumn, Transition}

/** Per-table LOAD claim (r19 verdict #1): two processes flowing DIFFERENT
  * files into the same hub could both pass the anti-join probe and
  * double-insert a business key — the reference is immune only because
  * DuckDB serializes its transactions. These specs pin the Spark-side
  * serializer: [[Lake.withLoadClaim]] + the flow executor's per-target
  * claim spans. Cross-"process" is modeled as two Lake/FlowExecutor
  * instances over the SAME directory spelled two ways (the verdict's
  * two-Lake shape): their in-process registries unify on the qualified
  * path, and the fs marker is the arbiter beyond that.
  */
class LoadClaimSpec extends SparkSpec {

  private def meta: MetaStore = MetaStore(
    tables = Seq(
      TableColumn("customer", "stg", "c_custkey", "BIGINT", 1, "c"),
      TableColumn("customer", "stg", "c_name", "VARCHAR", 2, "c")
    ),
    transitions = Seq(
      Transition("customer", "c_custkey", "hub_customer", "c_custkey_bk", "customer", 1, raw = false, None, "bk"),
      Transition("customer", "c_name", "hsat_customer", "c_name", "customer_details", 1, raw = false, None, "f"),
      Transition("customer", "customer_hk", "hsat_customer", "customer", "customer_details", 0, raw = false, None, "sat_delta")
    )
  )

  private def writeCsv(path: String, rows: Seq[String]): Unit =
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(path),
      ("c_custkey,c_name" +: rows).mkString("\n"))

  /** The same directory spelled a second way (parent/./name) — Hadoop
    * qualifies both to one path, so claims must arbitrate across them. */
  private def respell(root: String): String = {
    val p = java.nio.file.Paths.get(root)
    s"${p.getParent}/./${p.getFileName}"
  }

  test("loser of the load claim waits for the winner, then loads over its committed rows — no duplicate hub keys") {
    val root = tmpDir("lake_claimrace")
    val lakeA = new Lake(spark, root, buckets = 4)
    val lakeB = new Lake(spark, respell(root), buckets = 4)
    val flowA = new FlowExecutor(lakeA, meta, HashGen.Md5)
    val flowB = new FlowExecutor(lakeB, meta, HashGen.Md5)
    val f1 = s"$root/a.csv"
    val f2 = s"$root/b.csv"
    writeCsv(f1, Seq("1,ann", "2,bob", "3,cat"))
    writeCsv(f2, Seq("2,bob", "3,cat", "4,dan")) // overlaps A on keys 2,3

    // Deterministic overlap window: A signals from INSIDE its hub claim and
    // holds there until released, while B's flow runs concurrently — B must
    // block at the claim, and once A finishes, B's probe must see A's rows
    // (the claim refreshes the listing caches on acquire) and insert only
    // key 4. Without the claim both probes would list an empty hub.
    val aInside = new CountDownLatch(1)
    val aGo = new CountDownLatch(1)
    flowA.insideLoadClaimHook = t => if (t == "hub_customer") {
      aInside.countDown()
      assert(aGo.await(30, TimeUnit.SECONDS), "test orchestration stalled")
    }
    @volatile var rA: graft.etl.FlowResult = null
    @volatile var rB: graft.etl.FlowResult = null
    val tA = new Thread(() => {
      rA = flowA.executeFlow("customer", "unit", Some(f1), Some(Timestamp.valueOf("2026-01-01 00:00:00")))
    })
    val tB = new Thread(() => {
      rB = flowB.executeFlow("customer", "unit", Some(f2), Some(Timestamp.valueOf("2026-01-01 00:01:00")))
    })
    tA.start()
    assert(aInside.await(30, TimeUnit.SECONDS), "flow A never reached its hub claim")
    tB.start()
    // Give B time to reach (and block at) the contended claim, then let A go.
    Thread.sleep(1000)
    aGo.countDown()
    tA.join(120000); tB.join(120000)
    assert(rA != null && rA.status == "success", s"A: $rA")
    assert(rB != null && rB.status == "success", s"B: $rB")
    assert(rA.loaded("hub_customer") == 3L)
    assert(rB.loaded("hub_customer") == 1L, s"B double-inserted: ${rB.loaded}")

    val hub = lakeA.read("dv", "hub_customer")
    assert(hub.count() == 4L)
    assert(hub.select("customer_hk").distinct().count() == 4L, "duplicate hub hash keys")
    // satellite too: one version row per key (same-version anti-join held)
    val sat = lakeA.read("dv", "hsat_customer")
    assert(sat.groupBy("customer_hk").count().filter(col("count") > 1).count() == 0L)
  }

  test("many concurrent overlapping flows never double-insert (claim stress)") {
    val root = tmpDir("lake_claimstress")
    val lakeA = new Lake(spark, root, buckets = 4)
    val lakeB = new Lake(spark, respell(root), buckets = 4)
    val flowA = new FlowExecutor(lakeA, meta, HashGen.Md5)
    val flowB = new FlowExecutor(lakeB, meta, HashGen.Md5)
    // 6 rounds of two flows racing on a fresh overlapping key range each
    // round; every key appears in BOTH files, so any un-serialized window
    // double-inserts it.
    (0 until 6).foreach { i =>
      val base = i * 10
      val keys = (base until base + 5)
      val fA = s"$root/a_$i.csv"; val fB = s"$root/b_$i.csv"
      writeCsv(fA, keys.map(k => s"$k,name_$k"))
      writeCsv(fB, keys.map(k => s"$k,name_$k"))
      // capture the RESULTS, not just exceptions: executeFlow converts
      // failures (incl. a claim-liveness regression surfacing as a typed
      // Concurrency refusal after the bounded wait) into a failure
      // FlowResult — discarding it would let the loser silently fail
      // every round while the count assertion still passed (r20 review)
      @volatile var rA: graft.etl.FlowResult = null
      @volatile var rB: graft.etl.FlowResult = null
      var eA: Throwable = null; var eB: Throwable = null
      val ts = Some(Timestamp.valueOf("2026-01-01 00:00:00"))
      val tA = new Thread(() => try rA = flowA.executeFlow("customer", "u", Some(fA), ts) catch { case t: Throwable => eA = t })
      val tB = new Thread(() => try rB = flowB.executeFlow("customer", "u", Some(fB), ts) catch { case t: Throwable => eB = t })
      tA.start(); tB.start(); tA.join(120000); tB.join(120000)
      assert(eA == null, s"round $i A: $eA")
      assert(eB == null, s"round $i B: $eB")
      assert(rA != null && rA.status == "success", s"round $i A: $rA")
      assert(rB != null && rB.status == "success", s"round $i B: $rB")
    }
    val hub = lakeA.read("dv", "hub_customer")
    assert(hub.count() == 30L, "expected one hub row per distinct key")
    assert(hub.select("customer_hk").distinct().count() == 30L)
    val sat = lakeA.read("dv", "hsat_customer")
    assert(sat.groupBy("customer_hk", "hash_diff").count().filter(col("count") > 1).count() == 0L,
      "duplicate satellite version rows")
  }

  test("a held claim surfaces as a typed Concurrency flow failure after the bounded wait") {
    val root = tmpDir("lake_claimheld")
    val lakeA = new Lake(spark, root, buckets = 4)
    val lakeB = new Lake(spark, respell(root), buckets = 4)
    val flowA = new FlowExecutor(lakeA, meta, HashGen.Md5)
    val f1 = s"$root/a.csv"
    writeCsv(f1, Seq("1,ann"))
    assert(lakeB.tryLoadClaim("dv", "hub_customer"), "pre-claim failed")
    try {
      spark.conf.set(Confs.LoadClaimWaitMillisKey, "0")
      val r = flowA.executeFlow("customer", "unit", Some(f1))
      assert(r.status == "failure", s"expected typed failure, got $r")
      val err = r.errors.collectFirst { case c: DvError.Concurrency => c }
      assert(err.isDefined, s"expected Concurrency, got ${r.errors}")
      assert(err.get.message.contains(Lake.LoadClaim))
    } finally {
      spark.conf.unset(Confs.LoadClaimWaitMillisKey)
      lakeB.releaseLoadClaim("dv", "hub_customer")
    }
    // After release (the operator escape hatch) the same flow succeeds —
    // forceLoad: the failed attempt's ledger row doesn't block, but the
    // ingestion-claim marker was released on failure, so a plain retry works.
    val r2 = flowA.executeFlow("customer", "unit", Some(f1), Some(Timestamp.valueOf("2026-01-01 00:00:00")))
    assert(r2.status == "success" && r2.loaded("hub_customer") == 1L, s"$r2")
  }

  test("withLoadClaim is reentrant per thread and releases on exit") {
    val root = tmpDir("lake_claimreent")
    val lake = new Lake(spark, root, buckets = 4)
    try {
      spark.conf.set(Confs.LoadClaimWaitMillisKey, "0") // any non-reentrant retake would refuse instantly
      val got = lake.withLoadClaim("dv", "t", "outer") {
        lake.withLoadClaim("dv", "t", "inner") { 42 }
      }
      assert(got == 42)
    } finally spark.conf.unset(Confs.LoadClaimWaitMillisKey)
    // fully released: a fresh take succeeds and the marker is gone after release
    assert(lake.tryLoadClaim("dv", "t"))
    lake.releaseLoadClaim("dv", "t")
  }

  test("expire/compact never reclaim a live load-claim marker") {
    val root = tmpDir("lake_claimexpire")
    val lake = new Lake(spark, root, buckets = 2)
    import spark.implicits._
    val df = Seq((1L, "a"), (2L, "b")).toDF("k", "v")
      .withColumn("hk", md5(col("k").cast("string")))
    lake.appendBucketed(df, "dv", "hub_t", "hk")
    val (_, _) = lake.compact("dv", "hub_t") // table now generation-based
    assert(lake.tryLoadClaim("dv", "hub_t"))
    // assert on the DISK marker, not tryLoadClaim: the in-JVM registry
    // would make a second tryLoadClaim return false even if expire HAD
    // deleted the marker (r20 review: the registry check made this vacuous)
    val marker = new org.apache.hadoop.fs.Path(
      s"$root/dv/.claims", s"hub_t${Lake.LoadClaim}")
    val fs = marker.getFileSystem(spark.sparkContext.hadoopConfiguration)
    assert(fs.exists(marker), "claim did not create its marker where the spec expects it")
    try {
      lake.expireSuperseded("dv", "hub_t")
      assert(fs.exists(marker), "expire deleted a live load-claim marker")
    } finally lake.releaseLoadClaim("dv", "hub_t")
    assert(!fs.exists(marker), "release did not delete the marker")
  }
}
