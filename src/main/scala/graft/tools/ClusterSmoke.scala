package graft.tools

import java.sql.Timestamp

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.core.{Confs, Lake}
import graft.dv.{DvOps, HashGen}
import graft.etl.FlowExecutor
import graft.meta.{MetaStore, TableColumn, Transition}

/** Multi-executor smoke of the DV family (SURVEY §5).
  *
  * Everything else in the repo runs `local[n]` — ONE JVM — so the
  * driver/executor serialization seams (foreachBatch closures capturing the
  * Lake, typed aggregate buffers in graft_latest, Catalyst hash expressions,
  * the driver-only SkewMemo, per-JVM lazy resolution) are never crossed by a
  * real process boundary. This main runs the flow executor (hub + sat_full
  * including delete detection), one `streamFlow` query into a hub and its
  * satellite across two overlapping micro-batches, and the current view under
  * `local-cluster[2,2,2048]` — two REAL executor JVMs launched through the
  * standalone Worker — with the probe-prune gate forced open so the
  * bucket-span probe + counted-append paths also cross the boundary.
  *
  * Prints `[cluster-smoke] OK` and exits 0 on success; exits 1 with a FAIL
  * line otherwise. ClusterSmokeSpec drives it in its own JVM (a second
  * SparkContext cannot share the test JVM) and skips where the standalone
  * launch environment (SPARK_HOME with bin/spark-class) is unavailable.
  */
object ClusterSmoke {

  /** build.sbt's JDK17 module opens — executors are separate JVMs launched
    * via `$SPARK_HOME/bin/spark-class` and need them like the driver does. */
  val Jdk17AddOpens: Seq[String] = Seq(
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar"
  ).flatMap(p => Seq("--add-opens", s"$p=ALL-UNNAMED"))

  private def fail(msg: String): Nothing = {
    System.err.println(s"[cluster-smoke] FAIL: $msg")
    sys.exit(1)
  }
  private def check(cond: Boolean, msg: => String): Unit = if (!cond) fail(msg)

  private def writeCsv(path: String, rows: Seq[String]): Unit =
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(path),
      ("c_custkey,c_name,c_segment" +: rows).mkString("\n"))

  def main(args: Array[String]): Unit = {
    val spark = SparkSession.builder()
      .master("local-cluster[2,2,2048]")
      .appName("graft-cluster-smoke")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.sql.session.timeZone", "UTC")
      // executor JVMs need this JVM's classes (graft + spark jars) and the
      // module opens; neither is inherited across the process boundary
      .config("spark.executor.extraClassPath", sys.props("java.class.path"))
      .config("spark.executor.extraJavaOptions", Jdk17AddOpens.mkString(" "))
      .getOrCreate()
    val root = java.nio.file.Files.createTempDirectory("graft_cluster_smoke_").toString
    try {
      import spark.implicits._

      // Two real executors must register (plus the driver's entry).
      val deadline = System.nanoTime() + 180L * 1000 * 1000 * 1000
      def executors = spark.sparkContext.statusTracker.getExecutorInfos.length
      while (executors < 3 && System.nanoTime() < deadline) Thread.sleep(500)
      check(executors >= 3, s"expected 2 executors + driver, saw $executors")

      // Gates forced open: the bucket-span probe scans, span-bounded
      // counted appends, AND the skew-guard's sampled histograms (sample
      // jobs on executors, SkewMemo on the driver) run on the cluster even
      // at this KB scale — every size-gated seam crosses the boundary.
      spark.conf.set(Confs.ProbePruneMinBytesKey, "0")
      spark.conf.set(Confs.MinBytesKey, "0")
      spark.conf.set("spark.graft.skewGuard.sampleFraction", "1.0")

      // ── 1. Flow executor: hub + sat_full with delete detection ──
      val meta = MetaStore(
        tables = Seq(
          TableColumn("customer", "stg", "c_custkey", "BIGINT", 1, "c"),
          TableColumn("customer", "stg", "c_name", "VARCHAR", 2, "c"),
          TableColumn("customer", "stg", "c_segment", "VARCHAR", 3, "c")),
        transitions = Seq(
          Transition("customer", "c_custkey", "hub_customer", "c_custkey_bk", "customer", 1, raw = false, None, "bk"),
          Transition("customer", "c_name", "hsat_customer", "c_name", "customer_details", 1, raw = false, None, "f"),
          Transition("customer", "c_segment", "hsat_customer", "c_segment", "customer_details", 2, raw = false, None, "f"),
          Transition("customer", "customer_hk", "hsat_customer", "customer", "customer_details", 0, raw = false, None, "sat_full")))
      val lake = new Lake(spark, s"$root/lake", buckets = 4)
      val flow = new FlowExecutor(lake, meta, HashGen.Md5)
      val f1 = s"$root/batch1.csv"
      val f2 = s"$root/batch2.csv"
      writeCsv(f1, Seq("1,ann,A", "2,bob,B", "3,cat,C"))
      writeCsv(f2, Seq("1,ann,A", "2,bob,PROMOTED", "4,dan,D"))
      val r1 = flow.executeFlow("customer", "smoke", Some(f1),
        Some(Timestamp.valueOf("2026-01-01 00:00:00")))
      check(r1.status == "success", s"flow run1 status=${r1.status} errors=${r1.errors}")
      check(r1.loaded == Map("hub_customer" -> 3L, "hsat_customer" -> 3L),
        s"flow run1 loaded=${r1.loaded}")
      val r2 = flow.executeFlow("customer", "smoke", Some(f2),
        Some(Timestamp.valueOf("2026-01-02 00:00:00")))
      check(r2.status == "success", s"flow run2 status=${r2.status} errors=${r2.errors}")
      check(r2.loaded("hub_customer") == 1L, s"flow run2 hub loaded=${r2.loaded}")
      check(r2.loaded("hsat_customer") == 3L, s"flow run2 sat loaded=${r2.loaded}")

      // ── 2. Current view over the flow-loaded satellite ──
      val sat = lake.read("dv", "hsat_customer").drop("hk_bucket")
      check(sat.count() == 6, s"sat rows=${sat.count()}")
      val cur = DvOps.currentRows(sat, "customer_hk")
      check(cur.count() == 4, s"current view keys=${cur.count()}")
      val tombstones = cur.filter(col("del_flag")).select("c_name").as[String].collect().toSeq
      check(tombstones == Seq("cat"), s"current tombstones=$tombstones")
      check(cur.filter(col("c_name") === "bob" && !col("del_flag")).select("c_segment")
        .as[String].head() == "PROMOTED", "current view must carry the latest version")

      // ── 2b. Generation-commit compaction under two executor JVMs ──
      // the staged-generation rewrite job (with the satellite (hk, load_dts)
      // sort) runs ON the executors; resolution + marker commit are driver
      // metadata — results must survive the swap byte-for-byte
      def gen(): Long = lake.dataPath("dv", "hsat_customer").split(graft.core.Lake.GenPrefix).last.toLong
      val g0 = gen()
      val (cb, ca) = lake.compact("dv", "hsat_customer",
        sortBy = Seq("customer_hk", "load_dts"))
      check(ca <= cb, s"compact grew the table: $cb -> $ca")
      check(gen() == g0 + 1, s"compaction must commit the next generation: gen-$g0 -> gen-${gen()}")
      val cur2 = DvOps.currentRows(lake.read("dv", "hsat_customer").drop("hk_bucket"), "customer_hk")
      check(cur2.count() == 4, s"current view keys after compact=${cur2.count()}")

      // ── 2c. Rebucket under two executor JVMs (r19) ──
      // the new-count re-derivation job runs on the executors; the layout
      // record + marker commit are driver metadata — bucket-coupled ops
      // must resolve the NEW count and results must be byte-identical
      check(lake.tableBuckets("dv", "hsat_customer") == lake.bucketCount,
        "pre-rebucket layout count")
      lake.rebucket("dv", "hsat_customer", 8, sortBy = Seq("customer_hk", "load_dts"))
      check(lake.tableBuckets("dv", "hsat_customer") == 8,
        s"rebucket must update the layout record (got ${lake.tableBuckets("dv", "hsat_customer")})")
      val cur3 = DvOps.currentRows(lake.read("dv", "hsat_customer").drop("hk_bucket"), "customer_hk")
      check(cur3.count() == 4, s"current view keys after rebucket=${cur3.count()}")
      check(cur3.filter(col("c_name") === "bob" && !col("del_flag")).select("c_segment")
        .as[String].head() == "PROMOTED", "rebucket must preserve version history")

      // ── 2d. Concurrent-loader race under the per-table LOAD claim (r20) ──
      // Two FlowExecutors over the SAME lake dir spelled two ways (the
      // cross-process shape the claim arbitrates), racing overlapping
      // business keys from two different files on two driver threads —
      // the claimed probe+append spans run their jobs on the REAL executor
      // JVMs here. Exactly one insert per key must survive.
      val lakeB = new Lake(spark, s"$root/./lake", buckets = 4)
      val flowB = new FlowExecutor(lakeB, meta, HashGen.Md5)
      val fA = s"$root/race_a.csv"; val fB = s"$root/race_b.csv"
      writeCsv(fA, Seq("100,eve,E", "101,fay,F", "102,gus,G"))
      writeCsv(fB, Seq("101,fay,F", "102,gus,G", "103,hal,H"))
      @volatile var raceErr: Throwable = null
      val ts = Some(Timestamp.valueOf("2026-01-03 00:00:00"))
      val tA = new Thread(() => try { flow.executeFlow("customer", "smoke", Some(fA), ts); () }
        catch { case t: Throwable => raceErr = t })
      val tB = new Thread(() => try { flowB.executeFlow("customer", "smoke", Some(fB), ts); () }
        catch { case t: Throwable => raceErr = t })
      tA.start(); tB.start(); tA.join(180000); tB.join(180000)
      check(raceErr == null, s"claim race thread threw: $raceErr")
      val hubAfterRace = lake.read("dv", "hub_customer")
      check(hubAfterRace.count() == hubAfterRace.select("customer_hk").distinct().count(),
        "concurrent flows double-inserted a hub key despite the load claim")
      check(hubAfterRace.filter(col("c_custkey_bk").isin(100L, 101L, 102L, 103L)).count() == 4,
        s"race keys missing: ${hubAfterRace.select("c_custkey_bk").as[Long].collect().sorted.toSeq}")
      println("[cluster-smoke] load-claim race: 4 keys, no duplicates")

      // ── 2e. Reference-style qualified SQL names over the vault (r20) ──
      // dv.<table> / bv.<sat>_cv catalog surfaces under two executor JVMs,
      // including generation-following across a compact. Needs metadata
      // that DECLARES the vault tables (hub/hsat TableColumn rows — the
      // reference's tables.csv always does): the catalog surface is
      // metadata-derived, transitions alone don't name the columns.
      val gMeta = MetaStore(
        tables = Seq(
          TableColumn("customer", "stg", "c_custkey", "BIGINT", 1, "c"),
          TableColumn("customer", "stg", "c_name", "VARCHAR", 2, "c"),
          TableColumn("customer", "stg", "c_segment", "VARCHAR", 3, "c"),
          TableColumn("customer", "hub", "c_custkey", "BIGINT", 1, "bk"),
          TableColumn("customer", "hsat", "customer", "", 0, "hk"),
          TableColumn("customer", "hsat", "c_name", "VARCHAR", 1, "f"),
          TableColumn("customer", "hsat", "c_segment", "VARCHAR", 2, "f")),
        transitions = meta.transitions)
      val g = new graft.Graft(spark, s"$root/glake", gMeta, None, HashGen.Md5)
      g.initVault()
      val rg = g.executeFlow("customer", "smoke-sql", Some(f1),
        Some(Timestamp.valueOf("2026-01-01 00:00:00")))
      check(rg.status == "success", s"facade flow status=${rg.status} errors=${rg.errors}")
      check(g.sql("SELECT * FROM dv.hub_customer").count() == 3,
        "dv.hub_customer qualified SQL")
      check(g.sql(
        "SELECT h.c_custkey_bk FROM dv.hub_customer h JOIN bv.hsat_customer_cv s " +
          "ON h.customer_hk = s.customer_hk WHERE NOT s.del_flag").count() == 3,
        "dv-join-bv qualified SQL")
      g.compact("dv", "hub_customer")
      check(g.sql("SELECT * FROM dv.hub_customer").count() == 3,
        "dv.hub_customer after compact (catalog must follow the generation)")
      println("[cluster-smoke] qualified dv/bv SQL OK across compact")

      // ── 3. One streamFlow query into a hub + sat, two overlapping micro-batches ──
      val srcDir = s"$root/src"
      java.nio.file.Files.createDirectories(java.nio.file.Paths.get(srcDir))
      val userFlow = new FlowExecutor(lake, MetaStore(Nil, Seq(
        Transition("s", "id", "hub_user", "id_bk", "user", 1, raw = false, None, "bk"),
        Transition("s", "user_hk", "hsat_user", "user", "user_details", 1, raw = false, None, "sat_delta"),
        Transition("s", "name", "hsat_user", "name", "user_details", 1, raw = false, None, "f"))), HashGen.Md5)
      def addBatch(name: String, rows: Seq[(Long, String)]): Unit = {
        val stage = s"$root/stage_$name"
        rows.toDF("id", "name").coalesce(1).write.parquet(stage)
        val part = java.nio.file.Files.list(java.nio.file.Paths.get(stage))
          .filter(p => p.toString.endsWith(".parquet")).findFirst().get()
        java.nio.file.Files.move(part, java.nio.file.Paths.get(srcDir, s"$name.parquet"))
      }
      def runOnce(): Unit =
        userFlow.streamFlow("s", spark.readStream.schema("id LONG, name STRING").parquet(srcDir),
          "smoke", s"$root/ckpt").awaitTermination()
      addBatch("b1", Seq((1L, "ann"), (2L, "bob")))
      runOnce()
      addBatch("b2", Seq((1L, "ann"), (2L, "bobby"), (3L, "cat")))
      runOnce()
      val hubKeys = lake.read("dv", "hub_user").select("id_bk").as[Long].collect().sorted.toSeq
      check(hubKeys == Seq(1L, 2L, 3L), s"streaming hub keys=$hubKeys")
      val satNames = lake.read("dv", "hsat_user").select("name").as[String].collect().sorted.toSeq
      check(satNames == Seq("ann", "bob", "bobby", "cat"), s"streaming sat versions=$satNames")

      // ── 4. LLM-pipeline serialization seams (where testdata is present) ──
      // dedup_clusters: scratch-backed label propagation; knn_ivf: vector
      // Catalyst expressions + centroid broadcast; topk_spend_per_cust: the
      // custom typed heap aggregate (its buffer crosses the wire here);
      // events_quantiles: sketch/percentile aggregation paths.
      val sfDir = sys.env.getOrElse("GRAFT_SMOKE_SF_DIR", "/root/testdata/sf0.001")
      if (new java.io.File(sfDir).isDirectory) {
        // media_video/media_audio: the javax MJPEG/WAV decode stacks
        // (per-thread readers, raster fast paths) run INSIDE executor JVMs
        // here; events_stream_dedup_wm: a watermarked stream — state store
        // providers, watermark propagation and eviction cross the boundary.
        Seq("topk_spend_per_cust", "events_quantiles", "dedup_clusters", "knn_ivf",
          "media_video", "media_audio", "events_stream_dedup_wm").foreach { q =>
          val n = graft.SparkEntry.queries(q)(spark, sfDir).count()
          check(n > 0, s"$q returned 0 rows under local-cluster")
          println(s"[cluster-smoke] $q rows=$n")
        }

      } else println(s"[cluster-smoke] $sfDir absent — LLM-family rows skipped")

      // ── 5. hotSaltedJoin across executors ──
      // The interval join's skew mechanism on a synthetic bursty
      // distribution (the sf0.001 corpus has no in-band pairs, which would
      // make a query-level check vacuous): one bucket holds half the probe
      // rows, threshold 50 sends exactly it down the hot path — per-key
      // count aggregate, broadcast hot set, salted fan-out — on two real
      // executor JVMs; the result must equal the plain join bit-for-bit.
      val probe = spark.range(0, 400).select(
        when(col("id") < 200, lit(7L)).otherwise(pmod(col("id"), lit(20))).as("bucket"),
        col("id").as("pv"))
      val build = spark.range(0, 100).select(
        pmod(col("id"), lit(20)).as("bucket"), col("id").as("bv"))
      val salted = graft.functions.Joins
        .hotSaltedJoin(probe, build, Seq("bucket"), col("pv"), hotThreshold = 50L, factor = 4)
        .collect().map(_.toString).sorted.toSeq
      val plain = probe.join(build, "bucket").collect().map(_.toString).sorted.toSeq
      check(salted == plain && salted.nonEmpty,
        s"hotSaltedJoin diverged under local-cluster: ${salted.size} vs ${plain.size} rows")
      println(s"[cluster-smoke] hotSaltedJoin salted==plain rows=${salted.size}")

      // ── 6. FFmpeg executor-local binary resolution ──
      // Each executor resolves ffmpeg/ffprobe from ITS OWN environment
      // (GRAFT_FFMPEG_DIR/PATH) — the resolution code must cross the
      // process boundary without throwing whether or not the binaries
      // exist; on a binary-less host every claim is simply false.
      val ffmpeg = spark.sparkContext.parallelize(1 to 4, 4)
        .map(_ => graft.multimodal.FfmpegCliDecoder.available).collect()
      check(ffmpeg.length == 4, "ffmpeg resolution probe lost tasks")
      println(s"[cluster-smoke] ffmpeg available per task: ${ffmpeg.mkString(",")}")

      println("[cluster-smoke] OK")
    } finally spark.stop()
  }
}
