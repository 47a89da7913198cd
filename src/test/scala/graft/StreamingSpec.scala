package graft

import java.sql.Timestamp

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.core.Lake
import graft.etl.{DvError, DvException, FlowExecutor}
import graft.meta.{MetaStore, Transition}
import graft.streaming.StreamingDv

class StreamingSpec extends SparkSpec {
  import spark.implicits._

  private val transitions = Seq(
    Transition("s", "id", "hub_user", "id_bk", "user", 1, raw = false, None, "bk"))

  /** The user hub plus its `sat_delta` satellite over `name`. */
  private val satTransitions = transitions ++ Seq(
    Transition("s", "user_hk", "hsat_user", "user", "user_details", 1, raw = false, None, "sat_delta"),
    Transition("s", "name", "hsat_user", "name", "user_details", 1, raw = false, None, "f"))

  /** Two hubs, the link between them (`ll` legs plus a `dk`), and a
    * `sat_delta` satellite on the customer hub. */
  private val orderTransitions = Seq(
    Transition("s", "cust_id", "hub_customer", "cust_id_bk", "customer", 1, raw = false, None, "bk"),
    Transition("s", "order_id", "hub_order", "order_id_bk", "order", 1, raw = false, None, "bk"),
    Transition("s", "customer", "link_order_customer", "customer_hk", "oc", 1, raw = false, None, "ll"),
    Transition("s", "order", "link_order_customer", "order_hk", "oc", 2, raw = false, None, "ll"),
    Transition("s", "channel", "link_order_customer", "channel_dk", "oc", 3, raw = false, None, "dk"),
    Transition("s", "customer_hk", "hsat_customer", "customer", "customer_details", 1, raw = false, None, "sat_delta"),
    Transition("s", "name", "hsat_customer", "name", "customer_details", 1, raw = false, None, "f"))
  private val orderSchema = "cust_id LONG, order_id LONG, channel STRING, name STRING"
  private val orderBatches = Seq(
    Seq((1L, 10L, "web", "ann"), (2L, 20L, "app", "bob")),
    // a re-delivery of order 20 with a changed name, and a new order
    Seq((2L, 20L, "app", "bobby"), (3L, 30L, "web", "cat")))

  private val loadDts = Timestamp.valueOf("2026-01-01 00:00:00")

  private def flowOf(lake: Lake, ts: Seq[Transition]): FlowExecutor =
    new FlowExecutor(lake, MetaStore(Nil, ts), graft.dv.HashGen.Md5)

  /** Moves `df`'s single part file into `srcDir` as `<name>.parquet` (the
    * file-stream source lists only top-level files); `mtime` orders the
    * files, one micro-batch each under maxFilesPerTrigger=1. Returns the
    * file's path. */
  private def addFile(srcDir: String, name: String, df: DataFrame, mtime: Option[Long] = None): String = {
    val src = java.nio.file.Files.createDirectories(java.nio.file.Paths.get(srcDir))
    val stage = src.resolveSibling(s"stage_$name")
    df.coalesce(1).write.parquet(stage.toString)
    val part = java.nio.file.Files.list(stage)
      .filter(p => p.toString.endsWith(".parquet")).findFirst().get()
    val dst = src.resolve(s"$name.parquet")
    java.nio.file.Files.move(part, dst)
    mtime.foreach(t => assert(dst.toFile.setLastModified(t)))
    dst.toString
  }

  /** `srcDir` holding `batches` as mtime-ordered files b0, b1, … */
  private def orderedSource(srcDir: String, batches: Seq[DataFrame]): Seq[String] = {
    val base = System.currentTimeMillis() - 3600000L
    batches.zipWithIndex.map { case (df, i) => addFile(srcDir, s"b$i", df, Some(base + i * 60000L)) }
  }

  private def oneFilePerBatch(schema: String, srcDir: String): DataFrame =
    spark.readStream.schema(schema).option("maxFilesPerTrigger", "1").parquet(srcDir)

  /** Every row of a vault table, audit columns included, as sorted strings. */
  private def rowsOf(lake: Lake, table: String): Seq[String] =
    lake.read("dv", table).drop("hk_bucket").collect()
      .map(_.toSeq.map(String.valueOf).mkString("|")).sorted.toSeq

  private def commitExists(ckpt: String, batch: Long): Boolean =
    java.nio.file.Files.exists(java.nio.file.Paths.get(ckpt, "commits", batch.toString))

  test("multi-batch oracle replays drive >= 3 micro-batches with advancing run_ids") {
    // The single-batch streaming oracles pin everything into batch 0; these
    // two queries exist precisely to fold state ACROSS batch boundaries.
    // Pin that the generation staging really yields one batch per file:
    // run_id (= batchId) must span {0, 1, 2} in both results, and the sat's
    // re-versioned keys must carry the LATER batch's run_id.
    val dir = "/root/testdata/sf0.001"
    val hub = graft.queries.DvQueries.streamHubMulti(spark, dir)
      .select($"run_id".cast("long")).as[Long].collect()
    assert(hub.toSet == Set(0L, 1L, 2L), s"hub run_ids: ${hub.toSet}")
    val sat = graft.queries.DvQueries.streamSatMulti(spark, dir)
      .select($"customer_hk", $"run_id".cast("long")).as[(String, Long)].collect()
    assert(sat.map(_._2).toSet == Set(0L, 1L, 2L), s"sat run_ids: ${sat.map(_._2).toSet}")
    // every key has a batch-0 version; re-versioned keys stack later run_ids
    val byKey = sat.groupBy(_._1).view.mapValues(_.map(_._2).sorted.toSeq).toMap
    assert(byKey.values.forall(_.head == 0L))
    assert(byKey.values.exists(_ == Seq(0L, 1L)), "GEN1-only re-version missing")
    assert(byKey.values.exists(_ == Seq(0L, 1L, 2L)), "GEN1+GEN2 re-version missing")
    assert(byKey.values.exists(_ == Seq(0L)), "unchanged single-version keys missing")
  }

  test("one streamFlow query loads hub, link and sat_delta targets: keys and payloads equal two executeFlow runs") {
    val root = tmpDir("streamvsflow")
    val files = orderedSource(s"$root/src", orderBatches.map(_.toDF("cust_id", "order_id", "channel", "name")))
    val streamLake = new Lake(spark, s"$root/stream", buckets = 4)
    val q = flowOf(streamLake, orderTransitions)
      .streamFlow("s", oneFilePerBatch(orderSchema, s"$root/src"), "stream", s"$root/ckpt", Some(loadDts))
    q.awaitTermination()
    assert(q.recentProgress.count(_.numInputRows > 0) == 2, "expected two micro-batches")

    // the batch path: one executeFlow per file, over a view-backed source
    val flowLake = new Lake(spark, s"$root/flow", buckets = 4)
    val batchFlow = flowOf(flowLake, orderTransitions.map(_.copy(sourceTable = "stream_vs_flow_src")))
    files.foreach { f =>
      spark.read.parquet(f).createOrReplaceTempView("stream_vs_flow_src")
      val r = batchFlow.executeFlow("stream_vs_flow_src", "flow", None, Some(loadDts))
      assert(r.status == "success", r.errors.mkString("; "))
    }

    val audit = Seq("load_dts", "record_source", "run_id", "hk_bucket")
    def keysAndPayload(lake: Lake, table: String): Seq[String] =
      lake.read("dv", table).drop(audit: _*).collect()
        .map(_.toSeq.map(String.valueOf).mkString("|")).sorted.toSeq
    val expectedRows = Map("hub_customer" -> 3, "hub_order" -> 3, "link_order_customer" -> 3, "hsat_customer" -> 4)
    expectedRows.foreach { case (t, n) =>
      val streamed = keysAndPayload(streamLake, t)
      assert(streamed.length == n, s"$t: $streamed")
      assert(streamed == keysAndPayload(flowLake, t), t)
    }
    // run_id = batchId: bobby and cat arrived in batch 1
    val sat = streamLake.read("dv", "hsat_customer")
      .select($"name", $"run_id".cast("long")).as[(String, Long)].collect().sorted.toSeq
    assert(sat == Seq(("ann", 0L), ("bob", 0L), ("bobby", 1L), ("cat", 1L)), sat)
  }

  test("streamFlow refuses a sat_full transition with a typed Configuration error before any query starts") {
    val root = tmpDir("streamsatfull")
    addFile(s"$root/src", "b0", Seq((1L, "ann")).toDF("id", "name"))
    val lakeRoot = s"$root/lake"
    val full = transitions ++ Seq(
      Transition("s", "user_hk", "hsat_user", "user", "user_details", 1, raw = false, None, "sat_full"),
      Transition("s", "name", "hsat_user", "name", "user_details", 1, raw = false, None, "f"))
    val activeBefore = spark.streams.active.length
    val e = intercept[DvException](flowOf(new Lake(spark, lakeRoot, buckets = 4), full)
      .streamFlow("s", spark.readStream.schema("id LONG, name STRING").parquet(s"$root/src"),
        "t", s"$root/ckpt"))
    assert(e.error.isInstanceOf[DvError.Configuration], e.error)
    assert(e.error.message.contains("hsat_user"), e.error.message)
    assert(spark.streams.active.length == activeBefore)
    assert(!java.nio.file.Files.exists(java.nio.file.Paths.get(s"$root/ckpt")), "a checkpoint was created")
    assert(!java.nio.file.Files.exists(java.nio.file.Paths.get(lakeRoot, "dv")), "a vault table was created")
  }

  test("streaming hub load is incremental and idempotent across micro-batches") {
    val root = tmpDir("stream")
    val srcDir = s"$root/src"
    val lake = new Lake(spark, root, buckets = 4)
    def runOnce(): Unit =
      flowOf(lake, transitions).streamFlow("s",
        spark.readStream.schema("id LONG, name STRING").parquet(srcDir), "stream-test", s"$root/ckpt")
        .awaitTermination()

    addFile(srcDir, "b1", Seq((1L, "ann"), (2L, "bob")).toDF("id", "name"))
    runOnce()
    assert(lake.read("dv", "hub_user").count() == 2)

    // Second batch overlaps the first: only the new key lands (anti-join),
    // and the already-seen file is not reprocessed (checkpoint).
    addFile(srcDir, "b2", Seq((2L, "bob"), (3L, "cat")).toDF("id", "name"))
    runOnce()
    val hub = lake.read("dv", "hub_user")
    assert(hub.count() == 3)
    assert(hub.select("id_bk").as[Long].collect().sorted.toSeq == Seq(1L, 2L, 3L))
  }

  test("streaming hub + sat sinks stay idempotent with the probe-prune gate FORCED OPEN") {
    // The bucket-pruned existing-table probe under real micro-batches:
    // results must match the unpruned semantics — anti-join dedup across
    // batches, sat delta versioning — with the gate at 0 so pruning engages
    // even on this KB-sized vault.
    val root = tmpDir("streamprune")
    val srcDir = s"$root/src"
    val lake = new Lake(spark, root, buckets = 4)
    def runOnce(): Unit =
      flowOf(lake, satTransitions).streamFlow("s",
        spark.readStream.schema("id LONG, name STRING").parquet(srcDir), "t", s"$root/ckpt")
        .awaitTermination()
    try {
      spark.conf.set(graft.core.Confs.ProbePruneMinBytesKey, "0")
      addFile(srcDir, "b1", Seq((1L, "ann"), (2L, "bob")).toDF("id", "name"))
      runOnce()
      // re-delivery + a change + a new key, pruned probes deciding all three
      addFile(srcDir, "b2", Seq((1L, "ann"), (2L, "bobby"), (3L, "cat")).toDF("id", "name"))
      runOnce()
      val hub = lake.read("dv", "hub_user")
      assert(hub.select("id_bk").as[Long].collect().sorted.toSeq == Seq(1L, 2L, 3L))
      val sat = lake.read("dv", "hsat_user").select("name").as[String].collect().sorted.toSeq
      // ann once (unchanged re-delivery deduped), bob + bobby (versioned), cat once
      assert(sat == Seq("ann", "bob", "bobby", "cat"), sat)
    } finally spark.conf.unset(graft.core.Confs.ProbePruneMinBytesKey)
  }

  test("crash between append and checkpoint commit: restart replays the batch, vault equals a no-crash run (run_id included)") {
    // foreachBatch re-delivers a batch whose appends landed but whose
    // commit-log entry never did. The loads' probes must make that replay
    // EFFECTIVELY idempotent — the recovered vault must be row-identical
    // (audit columns included) to a run that never crashed.
    // Batch 1 carries a re-delivery (1/ann), a changed payload (2/bobby)
    // and a new key (3/cat) — all three replay decisions exercised.
    val batches = Seq(
      Seq((1L, "ann"), (2L, "bob")),
      Seq((1L, "ann"), (2L, "bobby"), (3L, "cat"))).map(_.toDF("id", "name"))
    def run(flow: FlowExecutor, root: String) =
      flow.streamFlow("s", oneFilePerBatch("id LONG, name STRING", s"$root/src"),
        "crash-test", s"$root/ckpt", Some(loadDts))

    val crashRoot = tmpDir("crashrun")
    val crashLake = new Lake(spark, crashRoot, buckets = 4)
    orderedSource(s"$crashRoot/src", batches)
    val crashFlow = flowOf(crashLake, satTransitions)
    val armed = new java.util.concurrent.atomic.AtomicBoolean(true)
    crashFlow.afterBatchHook = b =>
      if (b == 1L && armed.getAndSet(false)) throw new RuntimeException(s"injected crash after batch $b")
    val e = intercept[org.apache.spark.sql.streaming.StreamingQueryException](
      run(crashFlow, crashRoot).awaitTermination())
    assert(e.getMessage.contains("injected crash"))
    // the window is real: batch 1's appends durable, its commit not
    assert(crashLake.read("dv", "hub_user").count() == 3)
    assert(crashLake.read("dv", "hsat_user").count() == 4)
    assert(commitExists(s"$crashRoot/ckpt", 0) && !commitExists(s"$crashRoot/ckpt", 1))
    // restart from the checkpoint: batch 1 replays, the probes dedup it
    run(crashFlow, crashRoot).awaitTermination()
    assert(commitExists(s"$crashRoot/ckpt", 1))

    val cleanRoot = tmpDir("cleanrun")
    val cleanLake = new Lake(spark, cleanRoot, buckets = 4)
    orderedSource(s"$cleanRoot/src", batches)
    run(flowOf(cleanLake, satTransitions), cleanRoot).awaitTermination()

    // row-identical vaults, audit columns included (run_id = replayed batchId)
    Seq("hub_user", "hsat_user").foreach(t => assert(rowsOf(crashLake, t) == rowsOf(cleanLake, t), t))
    val sat = crashLake.read("dv", "hsat_user")
      .select($"name", $"run_id".cast("long")).as[(String, Long)].collect().sorted.toSeq
    assert(sat == Seq(("ann", 0L), ("bob", 0L), ("bobby", 1L), ("cat", 1L)), sat)
  }

  test("crash inside a micro-batch's satellite load claim, after its hub and link appends landed: replay equals a clean run") {
    // The crash window between targets: batch 1's hubs and link are
    // appended, its satellite is not, and its commit-log entry is missing.
    // The restart replays the whole batch; the hub and link probes must
    // dedup what already landed while the satellite loads for the first time.
    val batches = orderBatches.map(_.toDF("cust_id", "order_id", "channel", "name"))
    def run(flow: FlowExecutor, root: String) =
      flow.streamFlow("s", oneFilePerBatch(orderSchema, s"$root/src"),
        "crash-test", s"$root/ckpt", Some(loadDts))
    val tables = Seq("hub_customer", "hub_order", "link_order_customer", "hsat_customer")

    val crashRoot = tmpDir("satclaimcrash")
    val crashLake = new Lake(spark, crashRoot, buckets = 4)
    orderedSource(s"$crashRoot/src", batches)
    val crashFlow = flowOf(crashLake, orderTransitions)
    val satLoads = new java.util.concurrent.atomic.AtomicInteger(0)
    // the satellite's second load is batch 1's
    crashFlow.insideLoadClaimHook = t =>
      if (t == "hsat_customer" && satLoads.incrementAndGet() == 2)
        throw new RuntimeException("injected crash inside hsat_customer's load claim")
    val e = intercept[org.apache.spark.sql.streaming.StreamingQueryException](
      run(crashFlow, crashRoot).awaitTermination())
    assert(e.getMessage.contains("injected crash"))
    assert(crashLake.read("dv", "hub_customer").count() == 3) // batch 1's hub append landed
    assert(crashLake.read("dv", "link_order_customer").count() == 3)
    assert(crashLake.read("dv", "hsat_customer").count() == 2) // batch 0's versions only
    assert(!commitExists(s"$crashRoot/ckpt", 1))
    run(crashFlow, crashRoot).awaitTermination()
    assert(commitExists(s"$crashRoot/ckpt", 1))

    val cleanRoot = tmpDir("satclaimclean")
    val cleanLake = new Lake(spark, cleanRoot, buckets = 4)
    orderedSource(s"$cleanRoot/src", batches)
    run(flowOf(cleanLake, orderTransitions), cleanRoot).awaitTermination()
    tables.foreach(t => assert(rowsOf(crashLake, t) == rowsOf(cleanLake, t), t))
    assert(rowsOf(crashLake, "hsat_customer").length == 4)
  }

  test("streaming satellite load versions changed payloads, skips unchanged") {
    val root = tmpDir("satstream")
    val srcDir = s"$root/src"
    val lake = new Lake(spark, root, buckets = 4)
    def runOnce(): Unit =
      flowOf(lake, satTransitions).streamFlow("s",
        spark.readStream.schema("id LONG, name STRING").parquet(srcDir), "stream-test", s"$root/ckpt")
        .awaitTermination()

    addFile(srcDir, "b1", Seq((1L, "ann"), (2L, "bob")).toDF("id", "name"))
    runOnce()
    assert(lake.read("dv", "hsat_user").count() == 2)

    // batch 2: unchanged bob (skipped), changed ann (new version), new cat.
    addFile(srcDir, "b2", Seq((1L, "ann2"), (2L, "bob"), (3L, "cat")).toDF("id", "name"))
    runOnce()
    val sat = lake.read("dv", "hsat_user")
    assert(sat.count() == 4)
    assert(sat.filter(col("name") === "bob").count() == 1) // no duplicate version
    assert(sat.groupBy("user_hk").count().filter(col("count") === 2).count() == 1) // ann has 2 versions
  }

  test("streaming link load matches batch backfill and dedups across micro-batches") {
    val root = tmpDir("linkstream")
    val srcDir = s"$root/src"
    val lake = new Lake(spark, root, buckets = 4)
    val linkTransitions = orderTransitions.filter(_.targetTable != "hsat_customer")
    val legs = Seq("customer_hk" -> "customer_hk", "order_hk" -> "order_hk", "channel" -> "channel_dk")
    def runOnce(): Unit =
      flowOf(lake, linkTransitions).streamFlow("s",
        spark.readStream.schema("cust_id LONG, order_id LONG, channel STRING").parquet(srcDir),
        "stream-test", s"$root/ckpt").awaitTermination()

    val b1 = Seq((1L, 10L, "web"), (2L, 20L, "app"))
    val b2 = Seq((2L, 20L, "app"), (3L, 30L, "web")) // overlaps b1: only one new link
    addFile(srcDir, "b1", b1.toDF("cust_id", "order_id", "channel"))
    runOnce()
    assert(lake.read("dv", "link_order_customer").count() == 2)
    addFile(srcDir, "b2", b2.toDF("cust_id", "order_id", "channel"))
    runOnce()
    val streamed = lake.read("dv", "link_order_customer")
    assert(streamed.count() == 3)

    // Batch backfill over the full input produces identical vault state
    // (modulo the audit columns, which legitimately differ per micro-batch).
    val backfill = graft.dv.DvOps.newLinkRows(
      graft.dv.HashView.build((b1 ++ b2).toDF("cust_id", "order_id", "channel"), linkTransitions, graft.dv.HashGen.Md5),
      streamed.limit(0), "oc", legs, "order_customer_hk",
      graft.dv.LoadContext(loadDts, "backfill", 1L))
    val keyCols = Seq("order_customer_hk", "customer_hk", "order_hk", "channel_dk")
    assert(
      streamed.select(keyCols.map(col): _*).collect().map(_.toSeq).toSet ==
        backfill.select(keyCols.map(col): _*).collect().map(_.toSeq).toSet)
  }

  test("sessionize: a late-but-in-watermark event merges into a session a newer event had already 'closed'") {
    // The old shape emitted a session the moment a newer event opened the
    // next one — before the watermark had passed end+gap — so a late event
    // landing inside it could never merge (Append mode cannot retract) and
    // the stream diverged from the batch twin: three 1-event sessions
    // instead of [10:00–10:10](2) + [10:30](1). Finality must be the
    // watermark's.
    val root = tmpDir("sess_late")
    val srcDir = s"$root/src"
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(srcDir))
    def addBatch(name: String, rows: Seq[(Long, String, Long)]): Unit = {
      val stage = s"$root/stage_$name"
      rows.toDF("user_id", "raw_ts", "event_id")
        .select(col("user_id"), col("raw_ts").cast("timestamp").as("ts"), col("event_id"))
        .coalesce(1).write.parquet(stage)
      val part = java.nio.file.Files.list(java.nio.file.Paths.get(stage))
        .filter(p => p.toString.endsWith(".parquet")).findFirst().get()
      java.nio.file.Files.move(part, java.nio.file.Paths.get(srcDir, s"$name.parquet"))
    }
    val emittedBuf = java.util.Collections.synchronizedList(
      new java.util.ArrayList[StreamingDv.SessionOut])
    def runOnce(): Unit = {
      val events = spark.readStream
        .schema("user_id LONG, ts TIMESTAMP, event_id LONG").parquet(srcDir)
      val q = StreamingDv.sessionize(events, gapMinutes = 15, delayThreshold = "1 hour")
        .writeStream
        .option("checkpointLocation", s"$root/ckpt")
        .outputMode("append")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .foreachBatch { (batch: org.apache.spark.sql.Dataset[StreamingDv.SessionOut], _: Long) =>
          batch.collect().foreach(emittedBuf.add)
          ()
        }
        .start()
      q.awaitTermination()
    }
    // batch 1: 10:00 and 10:30 — 30 min apart (> 15 min gap), but the
    // watermark (10:30 − 1 h) hasn't passed 10:00+gap, so NOTHING is final
    addBatch("b1", Seq((1L, "2026-01-01 10:00:00", 1L), (1L, "2026-01-01 10:30:00", 2L)))
    runOnce()
    assert(emittedBuf.isEmpty, s"premature emission: $emittedBuf")
    // batch 2: the LATE event 10:10 (admissible: ≥ 09:30 watermark) must
    // merge into [10:00]; the 13:00 event advances the watermark to 12:00,
    // finalizing both early sessions
    addBatch("b2", Seq((1L, "2026-01-01 10:10:00", 3L), (1L, "2026-01-01 13:00:00", 4L)))
    runOnce()
    import scala.jdk.CollectionConverters._
    val out = emittedBuf.asScala.toVector.sortBy(_.session_start.getTime)
      .map(s => (s.n_events, s.session_start.toString, s.session_end.toString))
    assert(out == Vector(
      (2L, "2026-01-01 10:00:00.0", "2026-01-01 10:10:00.0"),
      (1L, "2026-01-01 10:30:00.0", "2026-01-01 10:30:00.0")), out)
  }

  test("sessionize: gap sessions close across micro-batches with bounded state") {
    val root = tmpDir("sess")
    val srcDir = s"$root/src"
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(srcDir))

    def addBatch(name: String, rows: Seq[(Long, String, Long)]): Unit = {
      val stage = s"$root/stage_$name"
      rows.toDF("user_id", "raw_ts", "event_id")
        .select(col("user_id"), col("raw_ts").cast("timestamp").as("ts"), col("event_id"))
        .coalesce(1).write.parquet(stage)
      val part = java.nio.file.Files.list(java.nio.file.Paths.get(stage))
        .filter(p => p.toString.endsWith(".parquet")).findFirst().get()
      java.nio.file.Files.move(part, java.nio.file.Paths.get(srcDir, s"$name.parquet"))
    }

    // memory sink can't recover from a checkpoint; collect via foreachBatch.
    val emittedBuf = java.util.Collections.synchronizedList(
      new java.util.ArrayList[StreamingDv.SessionOut])
    def emitted: Vector[StreamingDv.SessionOut] = {
      import scala.jdk.CollectionConverters._
      emittedBuf.asScala.toVector.sortBy(s => (s.session_start.getTime, s.user_id))
    }
    def runOnce(): Unit = {
      val events = spark.readStream
        .schema("user_id LONG, ts TIMESTAMP, event_id LONG")
        .parquet(srcDir)
      val q = StreamingDv.sessionize(events, gapMinutes = 30, delayThreshold = "30 minutes")
        .writeStream
        .option("checkpointLocation", s"$root/ckpt")
        .outputMode("append")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .foreachBatch { (batch: org.apache.spark.sql.Dataset[StreamingDv.SessionOut], _: Long) =>
          batch.collect().foreach(emittedBuf.add)
          ()
        }
        .start()
      q.awaitTermination()
    }

    // Batch 1: one 2-event session then a lone event starting a new session.
    addBatch("b1", Seq(
      (1L, "2026-01-01 10:00:00", 1L),
      (1L, "2026-01-01 10:10:00", 2L),
      (1L, "2026-01-01 12:00:00", 3L)))
    runOnce()
    assert(emitted.map(s => (s.user_id, s.n_events)) == Vector((1L, 2L)), emitted)
    assert(emitted.head.session_start == java.sql.Timestamp.valueOf("2026-01-01 10:00:00"))
    assert(emitted.head.session_end == java.sql.Timestamp.valueOf("2026-01-01 10:10:00"))

    // Batch 2: a much later event closes the 12:00 session.
    addBatch("b2", Seq((1L, "2026-01-01 13:30:00", 4L)))
    runOnce()
    assert(emitted.map(s => (s.n_events, s.session_start.toString.substring(11, 16))) ==
      Vector((2L, "10:00"), (1L, "12:00")))
  }

  test("windowedCounts runs as a real stream with watermark (update mode)") {
    val root = tmpDir("wc")
    val srcDir = s"$root/src"
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(srcDir))
    val stage = s"$root/stage"
    Seq(("2026-01-01 00:00:10", "click"), ("2026-01-01 00:00:50", "click"), ("2026-01-01 00:01:10", "view"))
      .toDF("raw_ts", "event_type")
      .select(col("raw_ts").cast("timestamp").as("ts"), col("event_type"))
      .coalesce(1).write.parquet(stage)
    val part = java.nio.file.Files.list(java.nio.file.Paths.get(stage))
      .filter(p => p.toString.endsWith(".parquet")).findFirst().get()
    java.nio.file.Files.move(part, java.nio.file.Paths.get(srcDir, "b1.parquet"))

    val events = spark.readStream.schema("ts TIMESTAMP, event_type STRING").parquet(srcDir)
    val q = StreamingDv.windowedCounts(events, "ts", "1 minute", "10 minutes", "event_type")
      .writeStream.format("memory").queryName("wc_out")
      .option("checkpointLocation", s"$root/ckpt")
      .outputMode("update")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    val rows = spark.table("wc_out").select("window_start", "event_type", "n_events")
      .as[(java.sql.Timestamp, String, Long)].collect().sortBy(r => (r._1.getTime, r._2))
    assert(rows.toSeq == Seq(
      (java.sql.Timestamp.valueOf("2026-01-01 00:00:00"), "click", 2L),
      (java.sql.Timestamp.valueOf("2026-01-01 00:01:00"), "view", 1L)))
  }

  test("watermark-bounded dedup: duplicates inside the horizon drop, state past it is EVICTED (bounded)") {
    // The 100 TB posture for unbounded dedup keys: state lives only inside
    // the watermark horizon. Observable: a key re-delivered with a fresh
    // in-horizon timestamp AFTER its state expired is re-emitted (the state
    // row is provably gone), while a key whose state is still live dedups.
    val root = tmpDir("wmdedup")
    val srcDir = s"$root/src"
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(srcDir))
    def writeGen(name: String, mtime: Long, rows: Seq[(Long, String)]): Unit = {
      val stage = s"$root/stage_$name"
      rows.toDF("event_id", "raw_ts")
        .select(col("event_id"), col("raw_ts").cast("timestamp").as("ts"))
        .coalesce(1).write.parquet(stage)
      val part = java.nio.file.Files.list(java.nio.file.Paths.get(stage))
        .filter(p => p.toString.endsWith(".parquet")).findFirst().get()
      val dst = java.nio.file.Paths.get(srcDir, s"$name.parquet")
      java.nio.file.Files.move(part, dst)
      assert(dst.toFile.setLastModified(mtime)) // file source replays in mtime order
    }
    val base = System.currentTimeMillis() - 3600000L
    // gen0: key 1 early, key 2 two hours later. Horizon 10 min ⇒ the
    // watermark advances to 01:50 for batch 1, whose END-of-batch eviction
    // drops key 1's state (expiry 00:10) and keeps key 2's (expiry 02:10).
    // Eviction runs AFTER a batch's probe, so the re-delivery must arrive
    // one batch later — gen1 is a fresh-key spacer batch.
    writeGen("g0", base, Seq(
      (1L, "2026-01-01 00:00:00"),
      (2L, "2026-01-01 02:00:00")))
    writeGen("g1", base + 60000L, Seq(
      (3L, "2026-01-01 02:00:00")))
    // gen2: keys 1 and 2 re-delivered AT 02:00 (above the 01:50 watermark,
    // not late): key 1 re-emits (state evicted), key 2 dedups (state live).
    writeGen("g2", base + 120000L, Seq(
      (1L, "2026-01-01 02:00:00"),
      (2L, "2026-01-01 02:00:00")))
    val events = spark.readStream.schema("event_id LONG, ts TIMESTAMP")
      .option("maxFilesPerTrigger", "1").parquet(srcDir)
    val q = events
      .withWatermark("ts", "10 minutes")
      .dropDuplicatesWithinWatermark("event_id")
      .writeStream.format("memory").queryName("wm_dedup_out")
      .option("checkpointLocation", s"$root/ckpt")
      .outputMode("append")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    val rows = spark.table("wm_dedup_out")
      .as[(Long, java.sql.Timestamp)].collect().sortBy(r => (r._2.getTime, r._1)).toSeq
    assert(rows == Seq(
      (1L, java.sql.Timestamp.valueOf("2026-01-01 00:00:00")),
      (1L, java.sql.Timestamp.valueOf("2026-01-01 02:00:00")), // the eviction proof: key 1 re-emitted
      (2L, java.sql.Timestamp.valueOf("2026-01-01 02:00:00")),
      (3L, java.sql.Timestamp.valueOf("2026-01-01 02:00:00"))),
      rows)
    // and the state store itself reports the eviction: at least one state
    // row was REMOVED by the watermark (plain dropDuplicates never removes)
    val removed = q.recentProgress.flatMap(_.stateOperators).map(_.numRowsRemoved).sum
    assert(removed >= 1L, s"expected watermark eviction, numRowsRemoved=$removed")
  }

  test("events_stream_dedup_wm equals batch DISTINCT across re-delivered generations") {
    val dir = "/root/testdata/sf0.001"
    val out = graft.queries.DvQueries.streamEventsDedupWm(spark, dir)
    val expected = graft.core.Tables.loadEvents(spark, dir).count()
    assert(out.count() == expected, "first-sights must equal the distinct event set")
    assert(out.select("event_id").distinct().count() == expected, "no re-delivered duplicate survives")
  }

  test("windowedCounts: tumbling event-time windows (batch-equivalent semantics)") {
    val events = Seq(
      ("2026-01-01 00:00:10", "click"),
      ("2026-01-01 00:00:50", "click"),
      ("2026-01-01 00:01:10", "view")
    ).toDF("raw_ts", "event_type")
      .select(col("raw_ts").cast("timestamp").as("ts"), col("event_type"))
    val out = StreamingDv.windowedCounts(events, "ts", "1 minute", "10 minutes", "event_type")
    val rows = out.select("window_start", "event_type", "n_events")
      .as[(java.sql.Timestamp, String, Long)].collect().sortBy(r => (r._1.getTime, r._2))
    assert(rows.toSeq == Seq(
      (java.sql.Timestamp.valueOf("2026-01-01 00:00:00"), "click", 2L),
      (java.sql.Timestamp.valueOf("2026-01-01 00:01:00"), "view", 1L)))
  }
}
