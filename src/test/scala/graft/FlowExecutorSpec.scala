package graft

import java.sql.Timestamp

import org.apache.spark.sql.functions._

import graft.core.Lake
import graft.dv.HashGen
import graft.etl.{DvError, DvException, FlowExecutor}
import graft.meta.{MetaStore, TableColumn, Transition}

class FlowExecutorSpec extends SparkSpec {
  import spark.implicits._

  private def meta: MetaStore = MetaStore(
    tables = Seq(
      TableColumn("customer", "stg", "c_custkey", "BIGINT", 1, "c"),
      TableColumn("customer", "stg", "c_name", "VARCHAR", 2, "c"),
      TableColumn("customer", "stg", "c_segment", "VARCHAR", 3, "c")
    ),
    transitions = Seq(
      Transition("customer", "c_custkey", "hub_customer", "c_custkey_bk", "customer", 1, raw = false, None, "bk"),
      Transition("customer", "c_name", "hsat_customer", "c_name", "customer_details", 1, raw = false, None, "f"),
      Transition("customer", "c_segment", "hsat_customer", "c_segment", "customer_details", 2, raw = false, None, "f"),
      Transition("customer", "customer_hk", "hsat_customer", "customer", "customer_details", 0, raw = false, None, "sat_full")
    )
  )

  private def writeCsv(path: String, rows: Seq[String]): Unit =
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(path),
      ("c_custkey,c_name,c_segment" +: rows).mkString("\n"))

  test("executeFlow loads hub+sat, is idempotent per file, tracks runinfo, detects deletes") {
    val root = tmpDir("lake")
    val lake = new Lake(spark, root, buckets = 4)
    val flow = new FlowExecutor(lake, meta, HashGen.Md5)
    val f1 = s"$root/batch1.csv"
    writeCsv(f1, Seq("1,ann,A", "2,bob,B", "3,cat,C"))

    // Run 1: everything is new.
    val r1 = flow.executeFlow("customer", "unit", Some(f1),
      Some(Timestamp.valueOf("2026-01-01 00:00:00")))
    assert(r1.status == "success" && r1.runId == 1L)
    assert(r1.loaded == Map("hub_customer" -> 3L, "hsat_customer" -> 3L))

    // Run 2, same file: idempotency skip, nothing written.
    val r2 = flow.executeFlow("customer", "unit", Some(f1))
    assert(r2.skipped && r2.status == "skipped")

    // Run 3, same file forced: anti-joins make it a no-op load.
    val r3 = flow.executeFlow("customer", "unit", Some(f1),
      Some(Timestamp.valueOf("2026-01-02 00:00:00")), forceLoad = true)
    assert(r3.status == "success" && r3.runId == 2L)
    assert(r3.loaded == Map("hub_customer" -> 0L, "hsat_customer" -> 0L))

    // Run 4, new file: changed payload for key 2, key 3 gone (sat_full
    // delete), key 4 new.
    val f2 = s"$root/batch2.csv"
    writeCsv(f2, Seq("1,ann,A", "2,bob,PROMOTED", "4,dan,D"))
    val r4 = flow.executeFlow("customer", "unit", Some(f2),
      Some(Timestamp.valueOf("2026-01-03 00:00:00")))
    assert(r4.status == "success" && r4.runId == 3L)
    assert(r4.loaded("hub_customer") == 1L)     // key 4
    assert(r4.loaded("hsat_customer") == 3L)    // changed(2) + new(4) + delete(3)

    val sat = lake.read("dv", "hsat_customer")
    assert(sat.count() == 6)
    assert(sat.filter(col("del_flag")).select("c_name").as[String].collect().toSeq == Seq("cat"))
    val hub = lake.read("dv", "hub_customer")
    assert(hub.select("c_custkey_bk").as[Long].collect().sorted.toSeq == Seq(1L, 2L, 3L, 4L))
    // Bucketed layout present on disk.
    assert(hub.columns.contains("hk_bucket"))

    // Ledger: start+end per executed flow (3 executed) = 6 rows, max run_id 3.
    val ri = flow.runinfo
    assert(ri.count() == 6)
    assert(ri.filter(col("status") === "success").count() == 3)
    assert(flow.nextRunId() == 4L)
  }

  test("executeFlow under a forced-open probe gate: span-shared pruned loads equal the gated run") {
    // Forces spark.graft.probePrune.minBytes=0 so every probe scan runs the
    // bucket-pruned path (Lake.readOrProbe), while the sat_full delete
    // detection stays unpruned. Loaded counts and final vault state must
    // match the default-gate run above exactly.
    val root = tmpDir("lake_span_flow")
    val lake = new Lake(spark, root, buckets = 4)
    val flow = new FlowExecutor(lake, meta, HashGen.Md5)
    val f1 = s"$root/batch1.csv"
    val f2 = s"$root/batch2.csv"
    writeCsv(f1, Seq("1,ann,A", "2,bob,B", "3,cat,C"))
    writeCsv(f2, Seq("1,ann,A", "2,bob,PROMOTED", "4,dan,D"))
    try {
      spark.conf.set(graft.core.Confs.ProbePruneMinBytesKey, "0")
      val r1 = flow.executeFlow("customer", "unit", Some(f1),
        Some(Timestamp.valueOf("2026-01-01 00:00:00")))
      assert(r1.status == "success", r1.errors.mkString("; "))
      assert(r1.loaded == Map("hub_customer" -> 3L, "hsat_customer" -> 3L))
      // re-delivery: anti-joins over PRUNED probes must still no-op
      val r2 = flow.executeFlow("customer", "unit", Some(f1),
        Some(Timestamp.valueOf("2026-01-02 00:00:00")), forceLoad = true)
      assert(r2.loaded == Map("hub_customer" -> 0L, "hsat_customer" -> 0L))
      // change + new + delete: the delete tombstone (vault-side key 3, in a
      // bucket the staged batch may not touch) is counted too
      val r3 = flow.executeFlow("customer", "unit", Some(f2),
        Some(Timestamp.valueOf("2026-01-03 00:00:00")))
      assert(r3.loaded("hub_customer") == 1L)
      assert(r3.loaded("hsat_customer") == 3L)
      val sat = lake.read("dv", "hsat_customer")
      assert(sat.count() == 6)
      assert(sat.filter(col("del_flag")).select("c_name").as[String].collect().toSeq == Seq("cat"))
      assert(lake.read("dv", "hub_customer")
        .select("c_custkey_bk").as[Long].collect().sorted.toSeq == Seq(1L, 2L, 3L, 4L))
    } finally spark.conf.unset(graft.core.Confs.ProbePruneMinBytesKey)
  }

  test("executeFlow loads links (legs + degenerate key), nhl, and link satellites") {
    val root = tmpDir("lake")
    val lake = new Lake(spark, root, buckets = 4)
    val m = MetaStore(
      tables = Seq(
        TableColumn("orders", "stg", "o_orderkey", "BIGINT", 1, "c"),
        TableColumn("orders", "stg", "o_custkey", "BIGINT", 2, "c"),
        TableColumn("orders", "stg", "o_priority", "VARCHAR", 3, "c"),
        TableColumn("orders", "stg", "o_status", "VARCHAR", 4, "c")
      ),
      transitions = Seq(
        Transition("orders", "o_custkey", "hub_customer", "c_custkey_bk", "customer", 1, raw = false, None, "bk"),
        Transition("orders", "o_orderkey", "hub_order", "o_orderkey_bk", "order", 1, raw = false, None, "bk"),
        Transition("orders", "customer", "link_order_customer", "customer_hk", "oc", 1, raw = false, None, "ll"),
        Transition("orders", "order", "link_order_customer", "order_hk", "oc", 2, raw = false, None, "ll"),
        Transition("orders", "o_priority", "link_order_customer", "o_priority_dk", "oc", 3, raw = false, None, "dk"),
        Transition("orders", "order", "nhl_order_event", "order_hk", "oe", 1, raw = false, None, "ll"),
        Transition("orders", "o_status", "lsat_order_customer", "o_status", "oc_details", 1, raw = false, None, "f"),
        Transition("orders", "oc_hk", "lsat_order_customer", "order_customer", "oc_details", 0, raw = false, None, "sat_delta")
      ))
    val flow = new FlowExecutor(lake, m, HashGen.Md5)
    val f = s"$root/orders.csv"
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(f),
      "o_orderkey,o_custkey,o_priority,o_status\n10,1,HIGH,OPEN\n11,1,LOW,OPEN\n12,2,HIGH,DONE")
    val r = flow.executeFlow("orders", "unit", Some(f),
      Some(Timestamp.valueOf("2026-01-01 00:00:00")))
    assert(r.status == "success", r.errors.mkString("; "))
    assert(r.loaded == Map(
      "hub_customer" -> 2L, "hub_order" -> 3L,
      "link_order_customer" -> 3L, "nhl_order_event" -> 3L,
      "lsat_order_customer" -> 3L))
    val link = lake.read("dv", "link_order_customer")
    assert(link.columns.toSet.contains("customer_hk"))
    assert(link.columns.toSet.contains("o_priority_dk"))
    assert(link.select("order_customer_hk").distinct().count() == 3)
    val lsat = lake.read("dv", "lsat_order_customer")
    assert(lsat.columns.contains("order_customer_hk") && lsat.columns.contains("o_status"))
  }

  test("executeFlow records failure in the ledger and reports typed errors") {
    val root = tmpDir("lake")
    val lake = new Lake(spark, root, buckets = 4)
    val flow = new FlowExecutor(lake, meta, HashGen.Md5)
    // File with a malformed row type is fine (CSV casts to null); instead
    // point at a missing file -> staging load throws.
    val r = flow.executeFlow("customer", "unit", Some(s"$root/nope.csv"))
    assert(r.status == "failure" && r.errors.nonEmpty)
    assert(flow.runinfo.filter(col("status") === "failure").count() == 1)
    // Callers dispatch on the error kind, not on message strings (reference
    // DVException taxonomy, exceptions.py:7-36). A missing input path
    // surfaces as a plan-analysis failure -> DVSQLError with the plan text.
    r.errors.head match {
      case DvError.Sql(msg, sql, cause) =>
        assert(msg.nonEmpty && cause.nonEmpty, s"expected cause on $msg / $sql")
      case DvError.Entity(msg, cause) =>
        assert(msg.nonEmpty && cause.nonEmpty)
      case other => fail(s"expected Sql or Entity error, got $other")
    }
    assert(r.errors.head.render.contains("Error") || r.errors.head.render.contains("nope"))
  }

  test("runId allocation failure: -1 sentinel, no ledger row for a phantom run") {
    val root = tmpDir("lake")
    val lake = new Lake(spark, root, buckets = 4)
    // Corrupt ledger: run_id persisted as STRING — the imposed LONG schema
    // makes nextRunId's max() throw at read time, BEFORE any run exists.
    // The failure must not write a ledger row (there is no run to attribute
    // it to) and must not reuse the run-id-0 "skipped" sentinel.
    lake.append(Seq(("customer", "one", new Timestamp(0L), "seen.csv", "success", ""))
      .toDF("source_table", "run_id", "log_date", "source_file", "status", "message"),
      "metadata", "runinfo")
    val dir = new java.io.File(new org.apache.hadoop.fs.Path(lake.dataPath("metadata", "runinfo")).toUri.getPath)
    val before = dir.listFiles().map(_.getName).toSet
    val csv = s"$root/c.csv"
    writeCsv(csv, Seq("1,alice,BUILDING"))
    val flow = new FlowExecutor(lake, meta, HashGen.Md5)
    val r = flow.executeFlow("customer", "unit", Some(csv))
    assert(r.status == "failure" && !r.skipped && r.errors.nonEmpty)
    assert(r.runId == -1L, s"unallocated run must carry the -1 sentinel, got ${r.runId}")
    val after = dir.listFiles().map(_.getName).toSet
    assert(after == before, s"phantom-run ledger rows appended: ${after.diff(before)}")
  }

  test("concurrent run-id allocation never hands out duplicates") {
    // nextRunId is a check-then-act ledger read; allocateRunId closes the
    // race by claiming the candidate id with the same create-no-overwrite
    // primitive as the ingestion claim. Twelve simultaneous allocations
    // must return twelve distinct ids.
    import scala.concurrent._
    import scala.concurrent.duration._
    implicit val ec: ExecutionContext = ExecutionContext.global
    val lake = new Lake(spark, tmpDir("lake_runid"), buckets = 4)
    val flow = new FlowExecutor(lake, meta, HashGen.Md5)
    val latch = new java.util.concurrent.CountDownLatch(1)
    val fs = (1 to 12).map(_ => Future { latch.await(); flow.allocateRunId() })
    latch.countDown()
    val ids = fs.map(Await.result(_, 2.minutes))
    assert(ids.distinct.length == 12, s"duplicate run ids: ${ids.sorted.mkString(",")}")
    assert(ids.min == 1L, "allocation starts at the ledger's max+1")
  }

  test("two racing flows over one file ingest exactly once") {
    val root = tmpDir("lake")
    val lake = new Lake(spark, root, buckets = 4)
    val f1 = s"$root/batch.csv"
    writeCsv(f1, Seq("1,ann,A", "2,bob,B", "3,cat,C"))
    val ts = Some(Timestamp.valueOf("2026-01-01 00:00:00"))
    // Separate executor INSTANCES sharing one lake: the claim must
    // arbitrate across executors, not within one object's state. A latch
    // releases both past the ledger check window together.
    val latch = new java.util.concurrent.CountDownLatch(1)
    import scala.concurrent.{Await, Future}
    import scala.concurrent.ExecutionContext.Implicits.global
    val runs = (1 to 2).map { _ =>
      val flow = new FlowExecutor(lake, meta, HashGen.Md5)
      Future { latch.await(); flow.executeFlow("customer", "race", Some(f1), ts) }
    }
    latch.countDown()
    val rs = runs.map(Await.result(_, scala.concurrent.duration.Duration.Inf))
    assert(rs.count(_.status == "success") == 1, rs.map(_.status))
    assert(rs.count(_.skipped) == 1, rs.map(_.status))
    // the loser that lost the CLAIM (not the ledger) carries the typed error
    rs.filter(_.skipped).foreach { r =>
      r.errors.foreach(e => assert(e.isInstanceOf[DvError.Concurrency], e.render))
    }
    // exactly one ingest hit the vault
    assert(lake.read("dv", "hub_customer").count() == 3)
    assert(lake.read("dv", "hsat_customer").count() == 3)
  }

  test("stale claim skips with a typed Concurrency error; forceLoad overrides; failure releases the claim") {
    val root = tmpDir("lake")
    val lake = new Lake(spark, root, buckets = 4)
    val flow = new FlowExecutor(lake, meta, HashGen.Md5)
    val f1 = s"$root/batch.csv"
    writeCsv(f1, Seq("1,ann,A"))
    // Simulate a crashed run's leftover marker (same derivation tryClaim
    // uses: sourceTable __ sha1(file path)).
    val digest = java.security.MessageDigest.getInstance("SHA-1")
      .digest(f1.getBytes("UTF-8")).map("%02x".format(_)).mkString
    val marker = java.nio.file.Paths.get(s"$root/metadata/.flow_claims/customer__$digest")
    java.nio.file.Files.createDirectories(marker.getParent)
    java.nio.file.Files.writeString(marker, f1)

    val ts = Some(Timestamp.valueOf("2026-01-01 00:00:00"))
    val blocked = flow.executeFlow("customer", "unit", Some(f1), ts)
    assert(blocked.skipped && blocked.status == "skipped")
    assert(blocked.errors.exists(_.isInstanceOf[DvError.Concurrency]), blocked.errors.mkString("; "))
    assert(!lake.exists("dv", "hub_customer"))

    // documented recovery: forceLoad bypasses ledger AND claim
    val forced = flow.executeFlow("customer", "unit", Some(f1), ts, forceLoad = true)
    assert(forced.status == "success" && forced.loaded("hub_customer") == 1L)

    // failure path releases the claim so a fixed input can be retried
    val missing = s"$root/nope.csv"
    assert(flow.executeFlow("customer", "unit", Some(missing), ts).status == "failure")
    writeCsv(missing, Seq("2,bob,B"))
    val retry = flow.executeFlow("customer", "unit", Some(missing), ts)
    assert(retry.status == "success", retry.errors.mkString("; "))
    assert(retry.loaded("hub_customer") == 1L)
  }

  test("a staging table that was never written fails the flow instead of tombstoning every key") {
    // Read as an empty batch, a missing stg table would make the sat_full
    // delete detection mark every live key deleted.
    val root = tmpDir("lake")
    val lake = new Lake(spark, root, buckets = 4)
    val flow = new FlowExecutor(lake, meta, HashGen.Md5)
    val f1 = s"$root/batch1.csv"
    writeCsv(f1, Seq("1,ann,A", "2,bob,B"))
    assert(flow.executeFlow("customer", "unit", Some(f1)).status == "success")
    val stg = new org.apache.hadoop.fs.Path(lake.tablePath("stg", "customer"))
    stg.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(stg, true)
    val r = flow.executeFlow("customer", "unit", None)
    assert(r.status == "failure", r)
    // typed: the flow claim drops the staging table's cached resolution, so
    // the deleted generation is not chased as a raw FileNotFoundException
    assert(r.errors.exists {
      case DvError.Entity(m, _) => m.contains("stg.customer")
      case _ => false
    }, r.errors)
    assert(lake.read("dv", "hsat_customer").filter(col("del_flag")).count() == 0L)
  }

  test("per-entity loads: loadRelatedHubs/Links/Sats load exactly their family") {
    val root = tmpDir("lake")
    val lake = new Lake(spark, root, buckets = 4)
    val m = MetaStore(
      tables = Seq(
        TableColumn("customer", "stg", "c_custkey", "BIGINT", 1, "c"),
        TableColumn("customer", "stg", "c_name", "VARCHAR", 2, "c")
      ),
      transitions = Seq(
        Transition("customer", "c_custkey", "hub_customer", "c_custkey_bk", "customer", 1, raw = false, None, "bk"),
        Transition("customer", "c_name", "hsat_customer", "c_name", "customer_details", 1, raw = false, None, "f"),
        Transition("customer", "customer_hk", "hsat_customer", "customer", "customer_details", 0, raw = false, None, "sat_delta")
      ))
    val flow = new FlowExecutor(lake, m, HashGen.Md5)
    // Stage directly (per-entity loads read the staged table, like the
    // reference's load_related_* which assume staging is already populated).
    import spark.implicits._
    lake.overwrite(
      Seq((1L, "ann"), (2L, "bob")).toDF("c_custkey", "c_name"), "stg", "customer")

    val ts = Some(Timestamp.valueOf("2026-01-01 00:00:00"))
    val hubs = flow.loadRelatedHubs("customer", 1L, "unit", ts)
    assert(hubs == Map("hub_customer" -> 2L))
    assert(!lake.exists("dv", "hsat_customer"), "hub load must not touch satellites")

    val sats = flow.loadRelatedSats("customer", 1L, "unit", ts)
    assert(sats == Map("hsat_customer" -> 2L))

    // idempotent on re-run with the same data: anti-joins find nothing new
    assert(flow.loadRelatedHubs("customer", 2L, "unit", ts) == Map("hub_customer" -> 0L))
    assert(flow.loadRelatedSats("customer", 2L, "unit", ts) == Map("hsat_customer" -> 0L))

    // no link transitions -> link load is a no-op, not an error
    assert(flow.loadRelatedLinks("customer", 2L, "unit", ts).isEmpty)
  }

  test("hashdiff under metadata evolution: adding a payload field re-versions EVERY key on the next delta load (pinned contract)") {
    // THE CONTRACT (SURVEY §3): hash_diff is a hash over the satellite's
    // full f-group, so widening the group changes every staged row's
    // hash_diff — the next delta load inserts a new version for every key
    // even though no source value changed (a one-time full-history
    // duplication event, identical to the reference's behavior). The
    // mitigation is a NEW satellite / splice group for the new field.
    val root = tmpDir("evolvehash")
    val lake = new Lake(spark, root, buckets = 4)
    def metaOf(withSeg: Boolean) = MetaStore(
      tables = Seq(
        TableColumn("customer", "stg", "c_custkey", "BIGINT", 1, "c"),
        TableColumn("customer", "stg", "c_name", "VARCHAR", 2, "c"),
        TableColumn("customer", "stg", "c_seg", "VARCHAR", 3, "c")),
      transitions = Seq(
        Transition("customer", "c_custkey", "hub_customer", "c_custkey_bk", "customer", 1, raw = false, None, "bk"),
        Transition("customer", "c_name", "hsat_customer", "c_name", "customer_details", 1, raw = false, None, "f"),
        Transition("customer", "customer_hk", "hsat_customer", "customer", "customer_details", 0, raw = false, None, "sat_delta")
      ) ++ (if (withSeg) Seq(
        Transition("customer", "c_seg", "hsat_customer", "c_seg", "customer_details", 2, raw = false, None, "f")) else Nil))

    import spark.implicits._
    lake.overwrite(
      Seq((1L, "ann", "A"), (2L, "bob", "B")).toDF("c_custkey", "c_name", "c_seg"),
      "stg", "customer")
    val t1 = Some(Timestamp.valueOf("2026-01-01 00:00:00"))
    val flow1 = new FlowExecutor(lake, metaOf(withSeg = false), HashGen.Md5)
    assert(flow1.loadRelatedSats("customer", 1L, "t", t1) == Map("hsat_customer" -> 2L))
    // same data, same metadata: idempotent
    assert(flow1.loadRelatedSats("customer", 2L, "t", t1) == Map("hsat_customer" -> 0L))

    // evolve: c_seg joins the SAME f-group; source rows unchanged
    val t2 = Some(Timestamp.valueOf("2026-01-02 00:00:00"))
    val flow2 = new FlowExecutor(lake, metaOf(withSeg = true), HashGen.Md5)
    assert(flow2.loadRelatedSats("customer", 3L, "t", t2) == Map("hsat_customer" -> 2L),
      "widening the f-group must re-version every key exactly once")
    // ...and converges immediately: the next load inserts nothing
    val t3 = Some(Timestamp.valueOf("2026-01-03 00:00:00"))
    assert(flow2.loadRelatedSats("customer", 4L, "t", t3) == Map("hsat_customer" -> 0L))

    // two versions per key on disk; the old versions read back with the
    // evolved column as NULL history (readOr imposed-schema contract)
    val schema = graft.dv.VaultSchemas.satFromFields("customer_hk",
      Seq("c_name" -> org.apache.spark.sql.types.StringType,
        "c_seg" -> org.apache.spark.sql.types.StringType))
    val sat = lake.readOr("dv", "hsat_customer", schema)
    assert(sat.count() == 4)
    assert(sat.filter(col("run_id") === 1L && col("c_seg").isNull).count() == 2)
    assert(sat.filter(col("run_id") === 3L && col("c_seg").isNotNull).count() == 2)
  }

  test("claim capability gate: S3-class schemes fail fast under requireAtomic, atomic schemes always pass") {
    // a local FS masquerading as s3a — the gate keys on the scheme only
    def fakeFs(scheme: String): org.apache.hadoop.fs.FileSystem =
      new org.apache.hadoop.fs.RawLocalFileSystem() {
        override def getUri: java.net.URI = java.net.URI.create(s"$scheme://bucket")
      }
    // default posture: advisory — warn (once), do not throw
    Lake.gateClaimStore(fakeFs("s3a"), spark.conf, "test")
    // atomic stores pass even under requireAtomic
    try {
      spark.conf.set(graft.core.Confs.ClaimsRequireAtomicKey, "true")
      Lake.gateClaimStore(fakeFs("hdfs"), spark.conf, "test")
      Lake.gateClaimStore(fakeFs("abfs"), spark.conf, "test")
      Lake.gateClaimStore(fakeFs("file"), spark.conf, "test")
      val e = intercept[DvException](
        Lake.gateClaimStore(fakeFs("s3a"), spark.conf, "run-id"))
      assert(e.error.isInstanceOf[DvError.Configuration])
      assert(e.getMessage.contains(graft.core.Confs.ClaimsRequireAtomicKey))
      assert(e.getMessage.contains("s3a"))
      // wasb (flat blob) gated too
      intercept[DvException](
        Lake.gateClaimStore(fakeFs("wasb"), spark.conf, "ingestion"))
      // a flow catching the gate's throw must carry the TYPED error through,
      // not re-wrap it as a generic Etl error
      assert(DvError.from(new DvException(DvError.Configuration("x")))
        == DvError.Configuration("x"))
    } finally spark.conf.unset(graft.core.Confs.ClaimsRequireAtomicKey)
  }

  test("the ledger check compiles once: a second alreadyIngested with another file compiles 0 classes") {
    val root = tmpDir("lake_ledger")
    val flow = new FlowExecutor(new Lake(spark, root, buckets = 4), meta, HashGen.Md5)
    val f1 = s"$root/batch1.csv"
    writeCsv(f1, Seq("1,ann,A"))
    assert(flow.executeFlow("customer", "unit", Some(f1)).status == "success")
    def compiles: Long = org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    assert(flow.alreadyIngested("customer", f1))
    val c0 = compiles
    assert(!flow.alreadyIngested("customer", s"$root/batch2.csv"))
    assert(compiles - c0 == 0, "a repeat ledger check compiled new classes")
  }

  test("one ledger read per flow: the combined read compiles 0 classes for another file, and a flow runs at most 2 ledger jobs") {
    val root = tmpDir("lake_ledger_once")
    val flow = new FlowExecutor(new Lake(spark, root, buckets = 4), meta, HashGen.Md5)
    val f1 = s"$root/batch1.csv"
    writeCsv(f1, Seq("1,ann,A"))
    assert(flow.executeFlow("customer", "unit", Some(f1)).status == "success")
    def compiles: Long = org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    assert(flow.ledgerState("customer", Some(f1)) == (true, 2L))
    val c0 = compiles
    assert(flow.ledgerState("customer", Some(s"$root/batch2.csv")) == (false, 2L))
    assert(compiles - c0 == 0, "a ledger read with another file compiled new classes")
    assert(flow.alreadyIngested("customer", f1) && flow.nextRunId() == 2L)
    // a whole flow reads the ledger once: its jobs are the ledger's
    // aggregate and the loads and appends, which run under Lake frames
    val f3 = s"$root/batch3.csv"
    writeCsv(f3, Seq("2,bob,B"))
    val rec = new graft.tools.StageRecorder(spark.sparkContext)
    try {
      val r = flow.executeFlow("customer", "unit", Some(f3))
      assert(r.status == "success" && r.runId == 2L, r)
      val ledgerJobs = rec.jobs.filter(_.contains("graft.etl.FlowExecutor.ledgerState"))
      assert(ledgerJobs.nonEmpty && ledgerJobs.size <= 2, rec.jobs.mkString("\n"))
    } finally rec.close()
  }

  test("an unpinned lake's hub: one bucket when small, 16 after a compaction past the gate, and a pruned re-load inserts 0 rows") {
    val root = tmpDir("lake_sized_flow")
    val lake = new Lake(spark, root)
    val flow = new FlowExecutor(lake, meta, HashGen.Md5)
    val f1 = s"$root/batch1.csv"
    writeCsv(f1, Seq("1,ann,A", "2,bob,B", "3,cat,C", "4,dan,D", "5,eve,E"))
    assert(flow.executeFlow("customer", "unit", Some(f1),
      Some(Timestamp.valueOf("2026-01-01 00:00:00"))).loaded("hub_customer") == 5L)
    assert(lake.tableLayout("dv", "hub_customer").map(lo => (lo.bucketCount, lo.sized)).contains((1, true)))
    try {
      spark.conf.set(graft.core.Confs.ProbePruneMinBytesKey, "1")
      lake.compact("dv", "hub_customer")
      assert(lake.tableBuckets("dv", "hub_customer") == 16)
      spark.conf.set(graft.core.Confs.ProbePruneMinBytesKey, "0")
      val r = flow.executeFlow("customer", "unit", Some(f1),
        Some(Timestamp.valueOf("2026-01-02 00:00:00")), forceLoad = true)
      assert(r.status == "success" && r.loaded("hub_customer") == 0L, r)
    } finally spark.conf.unset(graft.core.Confs.ProbePruneMinBytesKey)
    assert(lake.read("dv", "hub_customer").select("c_custkey_bk").as[Long].collect().sorted.toSeq
      == (1L to 5L))
  }
}
