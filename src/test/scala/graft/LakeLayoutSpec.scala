package graft

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.functions._

import graft.core.{Confs, Lake, TableLayout}
import graft.etl.{DvError, DvException}

/** Pins the r19 lake-layout contract: the per-table `_graft_table.json`
  * record makes the BUCKET COUNT a property of the table, not the session —
  * the r18 verdict's one correctness-class scale trap was a session whose
  * `spark.graft.buckets` drifted from the count a vault was written with:
  * bucket-pruned probes and point lookups computed different
  * `pmod(xxhash64(hk), N)` assignments, scanned the WRONG partitions, and
  * silently missed existing keys (hub loads re-inserting duplicates). With
  * the record, the persisted count governs every bucket-coupled operation,
  * so the drifted session gets CORRECT results (plus a stderr note);
  * changing a count is the explicit claim-gated [[Lake.rebucket]]. */
class LakeLayoutSpec extends SparkSpec {
  import spark.implicits._

  private def withConf[A](key: String, value: String)(body: => A): A =
    try { spark.conf.set(key, value); body } finally spark.conf.unset(key)

  private def rootChildren(lake: Lake, layer: String, name: String): Set[String] = {
    val p = new Path(lake.tablePath(layer, name))
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.listStatus(p).map(_.getPath.getName).toSet
  }

  private def bucketDirs(lake: Lake, layer: String, name: String): Set[Long] = {
    val p = new Path(lake.dataPath(layer, name))
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.listStatus(p).iterator.map(_.getPath.getName)
      .filter(_.startsWith("hk_bucket="))
      .flatMap(_.stripPrefix("hk_bucket=").toLongOption).toSet
  }

  test("layout record written at table create; keyCol pinned; drifted session resolves the persisted count") {
    val root = tmpDir("lake_layout_")
    val writer = new Lake(spark, root, buckets = 4)
    val rows = (1 to 60).map(i => (s"key$i", i.toLong)).toDF("hk", "v")
    writer.appendBucketed(rows, "dv", "t", "hk")
    assert(writer.tableLayout("dv", "t").contains(TableLayout(4, "hk", Nil)))
    assert(rootChildren(writer, "dv", "t").contains(Lake.LayoutFile))

    // a DIFFERENT bucket derivation on the same table: loud refusal
    val e = intercept[DvException](
      writer.appendBucketed(Seq(("x", 1L)).toDF("other", "v"), "dv", "t", "other"))
    assert(e.error.isInstanceOf[DvError.Configuration], e.error.render)
    assert(e.error.message.contains("hk") && e.error.message.contains("other"))

    // THE drift scenario: a fresh session-conf count must not mis-prune.
    val drifted = new Lake(spark, root, buckets = 16)
    assert(drifted.bucketCount == 16)
    assert(drifted.tableBuckets("dv", "t") == 4, "the record's count governs")

    // point lookups hit (pre-record these scanned the wrong bucket and
    // silently returned nothing for most keys)
    (1 to 60 by 7).foreach { i =>
      assert(drifted.lookupBucketed("dv", "t", "hk", s"key$i")
        .select("v").as[Long].head() == i.toLong, s"key$i")
    }

    // bucket-pruned probe (gate forced open): a batch confined to ONE
    // 4-count bucket must still see every existing key in that bucket —
    // the hub-load anti-join would otherwise re-insert them. (Bucket
    // membership computed at the TABLE's count, 4 — `writer`'s count.)
    withConf(Confs.ProbePruneMinBytesKey, "0") {
      val allKeys = (1 to 60).map(i => s"key$i")
      val b0 = writer.bucketOfValue(allKeys.head)
      val inB0 = allKeys.filter(k => writer.bucketOfValue(k) == b0)
      val staged = inB0.take(5).toDF("hk")
      val schema = org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("hk", org.apache.spark.sql.types.StringType)))
      val pruned = drifted.readOrProbe("dv", "t", schema, staged, col("hk"))
      val read = pruned.select(input_file_name()).distinct().as[String].collect()
      assert(read.nonEmpty && read.forall(_.contains(s"hk_bucket=$b0/")),
        s"pruned scan under the TABLE count reads only hk_bucket=$b0: ${read.mkString(",")}")
      val got = pruned.as[String].collect().toSet
      assert(got == inB0.toSet,
        s"pruned probe missed ${(inB0.toSet -- got).mkString(",")} (drifted derivation?)")
    }

    // appends from the drifted session land in the TABLE's bucket layout
    assert(ScratchSpec.footerCounted(drifted, "dv", "t")(drifted.appendBucketed(
      Seq(("newkey1", 100L), ("newkey2", 101L)).toDF("hk", "v"), "dv", "t", "hk")) == 2L)
    assert(bucketDirs(drifted, "dv", "t").forall(_ < 4),
      s"drifted append escaped the 4-bucket layout: ${bucketDirs(drifted, "dv", "t")}")
    assert(drifted.lookupBucketed("dv", "t", "hk", "newkey1")
      .select("v").as[Long].head() == 100L)
    assert(drifted.read("dv", "t").count() == 62)
  }

  test("compact carries the layout record into the committed generation; drift still resolved after expiry") {
    val root = tmpDir("lake_layout_gen_")
    val writer = new Lake(spark, root, buckets = 4)
    (0 until 3).foreach { r =>
      writer.appendBucketed(
        (1 to 30).map(i => (s"k${r}_$i", i.toLong)).toDF("hk", "v"), "dv", "t", "hk")
    }
    writer.compact("dv", "t", sortBy = Seq("hk"))
    assert(writer.dataPath("dv", "t").contains(Lake.GenPrefix))
    // record lives INSIDE the generation (one marker committed data+layout),
    // and records the rewrite's sort
    assert(writer.tableLayout("dv", "t").contains(TableLayout(4, "hk", Seq("hk"))))
    // the superseded root record goes with the superseded flat data
    writer.expireSuperseded("dv", "t")
    assert(!rootChildren(writer, "dv", "t").contains(Lake.LayoutFile))
    val drifted = new Lake(spark, root, buckets = 32)
    assert(drifted.tableBuckets("dv", "t") == 4)
    assert(drifted.lookupBucketed("dv", "t", "hk", "k1_17")
      .select("v").as[Long].head() == 17L)
  }

  test("legacy record-less table: disk evidence of a larger original count refuses adoption") {
    val root = tmpDir("lake_layout_legacy_")
    val writer = new Lake(spark, root, buckets = 16)
    writer.appendBucketed((1 to 80).map(i => (s"k$i", i.toLong)).toDF("hk", "v"), "dv", "t", "hk")
    // simulate a pre-r19 table: remove the record
    val rec = new Path(writer.tablePath("dv", "t"), Lake.LayoutFile)
    rec.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(rec, false)
    val drifted = new Lake(spark, root, buckets = 4)
    // 80 keys over 16 buckets: some on-disk hk_bucket >= 4 proves the drift
    val e = intercept[DvException](
      drifted.appendBucketed(Seq(("x", 1L)).toDF("hk", "v"), "dv", "t", "hk"))
    assert(e.error.isInstanceOf[DvError.Configuration], e.error.render)
    assert(e.error.message.contains("predates layout records"))
    // the ORIGINAL count re-adopts and writes the record
    val orig = new Lake(spark, root, buckets = 16)
    orig.appendBucketed(Seq(("extra", 99L)).toDF("hk", "v"), "dv", "t", "hk")
    assert(orig.tableLayout("dv", "t").contains(TableLayout(16, "hk", Nil)))
  }

  test("legacy adoption: a wrong count the partition NAMES can't disprove is caught by the row re-derivation check") {
    // the r19 review scenario: a pre-record table written at 16 whose
    // occupied buckets all happen to be < the drifted session's count —
    // observedBucketAtOrOver passes, but blessing the wrong count into a
    // record would make probes/lookups miss existing keys PERMANENTLY
    val root = tmpDir("lake_layout_sparse_")
    val writer = new Lake(spark, root, buckets = 16)
    // keys confined to buckets < 12 under the TRUE count 16
    val keys = (1 to 400).map(i => s"k$i").filter(k => writer.bucketOfValue(k) < 12).take(60)
    assert(keys.size >= 30, s"fixture needs enough sparse keys, got ${keys.size}")
    writer.appendBucketed(keys.map((_, 1L)).toDF("hk", "v"), "dv", "t", "hk")
    val rec = new Path(writer.tablePath("dv", "t"), Lake.LayoutFile)
    rec.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(rec, false)
    assert(bucketDirs(writer, "dv", "t").forall(_ < 12), "fixture: names alone can't disprove 12")

    // 12 ∤ 16: stored rows have pmod(h,16) ≠ pmod(h,12) for most keys — the
    // exhaustive adoption check must refuse before writing the record
    val drifted = new Lake(spark, root, buckets = 12)
    val e = intercept[DvException](
      drifted.appendBucketed(Seq(("x", 1L)).toDF("hk", "v"), "dv", "t", "hk"))
    assert(e.error.isInstanceOf[DvError.Configuration], e.error.render)
    assert(e.error.message.contains("does not re-derive"), e.error.message)
    assert(!rootChildren(drifted, "dv", "t").contains(Lake.LayoutFile), "no record blessed")
  }

  test("legacy adoption: a divisor count consistent with every stored row is admitted and stays correct") {
    // 4 | 16 and occupied buckets all < 4 ⇒ pmod(h,4) = pmod(h,16) for every
    // stored row: adopting 4 makes the table a VALID 4-bucket table (old
    // rows already sit where 4-derived probes look) — deliberately admitted
    val root = tmpDir("lake_layout_divisor_")
    val writer = new Lake(spark, root, buckets = 16)
    val keys = (1 to 800).map(i => s"k$i").filter(k => writer.bucketOfValue(k) < 4).take(40)
    assert(keys.size >= 20, s"fixture needs enough keys, got ${keys.size}")
    writer.appendBucketed(keys.zipWithIndex.map { case (k, i) => (k, i.toLong) }.toDF("hk", "v"),
      "dv", "t", "hk")
    val rec = new Path(writer.tablePath("dv", "t"), Lake.LayoutFile)
    rec.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(rec, false)

    val adopter = new Lake(spark, root, buckets = 4)
    adopter.appendBucketed(Seq(("newk", 999L)).toDF("hk", "v"), "dv", "t", "hk")
    assert(adopter.tableLayout("dv", "t").contains(TableLayout(4, "hk", Nil)))
    // every OLD key still resolves under the adopted count
    keys.zipWithIndex.foreach { case (k, i) =>
      assert(adopter.lookupBucketed("dv", "t", "hk", k)
        .select("v").as[Long].head() == i.toLong, k)
    }
    assert(adopter.lookupBucketed("dv", "t", "hk", "newk").select("v").as[Long].head() == 999L)
  }

  test("resolution cache is keyed by the QUALIFIED path: a write through one spelling invalidates the other") {
    // two Lake instances over equivalent-but-differently-spelled roots
    // ("/x" vs "file:/x/"): without normalization, A's compact invalidated
    // only A's key and B kept serving (and plain-appending into) the
    // superseded generation until the next expire deleted it under B's feet
    val plainRoot = tmpDir("lake_qual_")
    val a = new Lake(spark, plainRoot, buckets = 4)
    val b = new Lake(spark, s"file:$plainRoot/", buckets = 4)
    a.append(Seq((1L, "a"), (2L, "b")).toDF("run_id", "status"), "metadata", "runinfo")
    // B resolves (and caches) the flat layout
    assert(!b.dataPath("metadata", "runinfo").contains(Lake.GenPrefix))
    assert(b.read("metadata", "runinfo").count() == 2)
    // A compacts: B must observe the committed generation immediately
    a.compact("metadata", "runinfo")
    assert(b.dataPath("metadata", "runinfo").contains(Lake.GenPrefix),
      s"stale resolution through the other spelling: ${b.dataPath("metadata", "runinfo")}")
    // B's plain append lands INSIDE the generation and survives A's expire
    b.append(Seq((3L, "c")).toDF("run_id", "status"), "metadata", "runinfo")
    a.expireSuperseded("metadata", "runinfo")
    assert(a.read("metadata", "runinfo").count() == 3)
    assert(b.read("metadata", "runinfo").count() == 3)
    // claims arbitrate across spellings too
    assert(a.tryCompactionClaim("metadata", "runinfo"))
    try assert(!b.tryCompactionClaim("metadata", "runinfo"), "claim must be shared across spellings")
    finally a.releaseCompactionClaim("metadata", "runinfo")
  }

  test("rebucket: committed-generation rewrite at a new count — equality, pruned ops at the new count, old reader completes") {
    val root = tmpDir("lake_rebucket_")
    val lake = new Lake(spark, root, buckets = 4)
    (0 until 3).foreach { r =>
      lake.appendBucketed(
        (1 to 40).map(i => (s"k${r}_$i", (r * 100 + i).toLong)).toDF("hk", "v"),
        "dv", "t", "hk")
    }
    val expectedSum = lake.read("dv", "t").agg(sum("v")).head().getLong(0)
    val oldReader = lake.read("dv", "t") // listing resolved pre-rebucket

    val (before, after) = lake.rebucket("dv", "t", 16, sortBy = Seq("hk"))
    assert(before > 0 && after > 0)
    assert(lake.tableLayout("dv", "t").contains(TableLayout(16, "hk", Seq("hk"))))
    assert(lake.tableBuckets("dv", "t") == 16)

    // read-back equality + the new partition layout really is 16-way
    assert(lake.read("dv", "t").count() == 120)
    assert(lake.read("dv", "t").agg(sum("v")).head().getLong(0) == expectedSum)
    val dirs = bucketDirs(lake, "dv", "t")
    assert(dirs.exists(_ >= 4), s"no bucket above the old count — rebucket didn't re-derive: $dirs")
    assert(dirs.forall(_ < 16))

    // probes and lookups operate at the NEW count
    (1 to 40 by 9).foreach { i =>
      assert(lake.lookupBucketed("dv", "t", "hk", s"k1_$i")
        .select("v").as[Long].head() == (100 + i).toLong)
    }
    withConf(Confs.ProbePruneMinBytesKey, "0") {
      val schema = org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("hk", org.apache.spark.sql.types.StringType)))
      val pruned = lake.readOrProbe(
        "dv", "t", schema, Seq("k0_1", "k2_40").toDF("hk"), col("hk"))
      // pruned: at most the two staged keys' buckets are read, all under 16
      val read = pruned.select(input_file_name()).distinct().as[String].collect()
        .map("hk_bucket=(\\d+)/".r.findFirstMatchIn(_).get.group(1).toInt)
      assert(read.nonEmpty && read.length <= 2 && read.forall(_ < 16), read.mkString(","))
      // the pruned SCAN covers the staged buckets — both staged keys must
      // be visible in it (the anti-join's correctness condition)
      assert(Set("k0_1", "k2_40").subsetOf(pruned.as[String].collect().toSet))
    }

    // appends continue at the new count, inside the committed generation
    lake.appendBucketed(Seq(("post", 7L)).toDF("hk", "v"), "dv", "t", "hk")
    assert(lake.read("dv", "t").count() == 121)
    assert(lake.dataPath("dv", "t").contains(Lake.GenPrefix))

    // the pre-rebucket reader completes (superseded data retained one cycle)
    assert(oldReader.agg(sum("v")).head().getLong(0) == expectedSum)

    // a record-less table refuses rebucket without an explicit keyCol
    lake.appendBucketed(Seq(("a", 1L)).toDF("hk", "v"), "dv", "nolayout", "hk")
    val rec = new Path(lake.tablePath("dv", "nolayout"), Lake.LayoutFile)
    rec.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(rec, false)
    val e = intercept[DvException](lake.rebucket("dv", "nolayout", 8))
    assert(e.error.isInstanceOf[DvError.Configuration])
    // ... and succeeds with one
    lake.rebucket("dv", "nolayout", 8, keyCol = Some("hk"))
    assert(lake.tableBuckets("dv", "nolayout") == 8)
    assert(lake.lookupBucketed("dv", "nolayout", "hk", "a").select("v").as[Long].head() == 1L)
  }

  test("compaction claim: a held claim gets a typed Concurrency refusal; committed data intact; expire is claim-gated too") {
    val root = tmpDir("lake_claim_")
    val lake = new Lake(spark, root, buckets = 4)
    lake.appendBucketed((1 to 20).map(i => (s"k$i", i.toLong)).toDF("hk", "v"), "dv", "t", "hk")
    lake.compact("dv", "t")
    val committed = lake.read("dv", "t").agg(sum("v")).head().getLong(0)

    // another worker (thread) holds the table's claim mid-compaction
    assert(lake.tryCompactionClaim("dv", "t"))
    try {
      val e1 = intercept[DvException](lake.compact("dv", "t"))
      assert(e1.error.isInstanceOf[DvError.Concurrency], e1.error.render)
      val e2 = intercept[DvException](lake.expireSuperseded("dv", "t"))
      assert(e2.error.isInstanceOf[DvError.Concurrency], e2.error.render)
      val e3 = intercept[DvException](lake.rebucket("dv", "t", 8))
      assert(e3.error.isInstanceOf[DvError.Concurrency], e3.error.render)
    } finally lake.releaseCompactionClaim("dv", "t")

    // refusals left the committed generation untouched; the released claim
    // lets the next compact win
    assert(lake.read("dv", "t").agg(sum("v")).head().getLong(0) == committed)
    lake.compact("dv", "t")
    assert(lake.read("dv", "t").agg(sum("v")).head().getLong(0) == committed)

    // two RACING compactors: exactly one of the pair may hold the claim at
    // a time — both threads try to claim simultaneously, one wins
    val results = new java.util.concurrent.ConcurrentLinkedQueue[Boolean]()
    val start = new java.util.concurrent.CountDownLatch(1)
    val ts = (1 to 2).map { _ =>
      new Thread(() => {
        start.await()
        results.add(lake.tryCompactionClaim("dv", "t"))
      })
    }
    ts.foreach(_.start()); start.countDown(); ts.foreach(_.join())
    assert(results.toArray(Array.empty[java.lang.Boolean]).count(_.booleanValue()) == 1,
      s"exactly one racer claims: $results")
    lake.releaseCompactionClaim("dv", "t")
  }

  test("retention policy: superseded generations survive the window, expire by policy afterwards; explicit expire ignores the window") {
    val root = tmpDir("lake_retain_")
    val lake = new Lake(spark, root, buckets = 4)
    lake.appendBucketed((1 to 20).map(i => (s"k$i", i.toLong)).toDF("hk", "v"), "dv", "t", "hk")
    val expected = lake.read("dv", "t").agg(sum("v")).head().getLong(0)
    lake.compact("dv", "t") // gen1 (flat superseded, expired at next compact)

    withConf(Confs.GenRetainMillisKey, "3600000") {
      // an in-flight reader of gen1 resolved before the next rewrite
      val oldReader = lake.read("dv", "t")
      lake.compact("dv", "t") // gen2; gen1 superseded but INSIDE the window
      assert(rootChildren(lake, "dv", "t")
        .count(_.startsWith(Lake.GenPrefix)) == 2, "young superseded gen survives a re-compact")
      // appends don't reclaim it either while young
      lake.appendBucketed(Seq(("x", 0L)).toDF("hk", "v"), "dv", "t", "hk")
      assert(rootChildren(lake, "dv", "t").count(_.startsWith(Lake.GenPrefix)) == 2)
      // the old-generation reader COMPLETES under the window
      assert(oldReader.agg(sum("v")).head().getLong(0) == expected)
    }
    withConf(Confs.GenRetainMillisKey, "0") {
      // window elapsed (0 ms): the table's own next append reclaims —
      // nobody had to remember expireSuperseded
      lake.appendBucketed(Seq(("y", 0L)).toDF("hk", "v"), "dv", "t", "hk")
      assert(rootChildren(lake, "dv", "t").count(_.startsWith(Lake.GenPrefix)) == 1,
        rootChildren(lake, "dv", "t").mkString(","))
    }
    assert(lake.read("dv", "t").agg(sum("v")).head().getLong(0) == expected)

    // explicit expireSuperseded ignores the window (it IS the drain statement)
    lake.compact("dv", "t")
    withConf(Confs.GenRetainMillisKey, "3600000") {
      assert(rootChildren(lake, "dv", "t").count(_.startsWith(Lake.GenPrefix)) == 2)
      lake.expireSuperseded("dv", "t")
      assert(rootChildren(lake, "dv", "t").count(_.startsWith(Lake.GenPrefix)) == 1)
    }
  }

  test("plain append routes through the committed generation (runinfo ledger shape): no rows lost to compact/expire") {
    val root = tmpDir("lake_plainapp_")
    val lake = new Lake(spark, root, buckets = 4)
    // the ledger write path: plain (non-bucketed) appends
    lake.append(Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("run_id", "status"), "metadata", "runinfo")
    lake.compact("metadata", "runinfo") // the archetypal small-file target
    assert(lake.dataPath("metadata", "runinfo").contains(Lake.GenPrefix))
    // post-compaction appends MUST land inside the generation — to the table
    // root they'd be invisible to reads and deleted as legacy by the next
    // expire (r18 ADVICE-high: lost ledger rows double-ingest files)
    lake.append(Seq((4L, "d"), (5L, "e")).toDF("run_id", "status"), "metadata", "runinfo")
    assert(lake.read("metadata", "runinfo").count() == 5)
    lake.expireSuperseded("metadata", "runinfo")
    assert(lake.read("metadata", "runinfo").count() == 5)
    lake.compact("metadata", "runinfo")
    assert(lake.read("metadata", "runinfo").count() == 5)
    assert(lake.read("metadata", "runinfo").agg(sum("run_id")).head().getLong(0) == 15L)
  }

  test("a concurrent append during compact/rebucket staging aborts the commit instead of silently dropping rows") {
    // the one silent-loss hole the claim doesn't cover: appends never take
    // the compaction claim, so rows landing in the current generation while
    // a rewrite is staging are invisible to it — the commit would publish a
    // generation WITHOUT them and the next expire would delete them with
    // the superseded data. The source-unchanged check converts that into a
    // typed Concurrency abort.
    val root = tmpDir("lake_midcompact_")
    val lake = new Lake(spark, root, buckets = 4)
    lake.appendBucketed((1 to 30).map(i => (s"k$i", i.toLong)).toDF("hk", "v"), "dv", "t", "hk")
    val expected = lake.read("dv", "t").agg(sum("v")).head().getLong(0)
    Lake.beforeCommitHook = { _ =>
      Lake.beforeCommitHook = _ => () // fire once (the append below compacts nothing)
      lake.appendBucketed(Seq(("mid", 777L)).toDF("hk", "v"), "dv", "t", "hk")
    }
    try {
      val e = intercept[DvException](lake.compact("dv", "t"))
      assert(e.error.isInstanceOf[DvError.Concurrency], e.error.render)
      assert(e.error.message.contains("changed while the rewrite was staging"), e.error.message)
    } finally Lake.beforeCommitHook = _ => ()
    // nothing committed, nothing lost: flat layout intact INCLUDING the
    // mid-staging append's row
    assert(!lake.dataPath("dv", "t").contains(Lake.GenPrefix))
    assert(lake.read("dv", "t").agg(sum("v")).head().getLong(0) == expected + 777L)
    // the next (unraced) compact succeeds and carries every row
    lake.compact("dv", "t")
    assert(lake.dataPath("dv", "t").contains(Lake.GenPrefix))
    assert(lake.read("dv", "t").agg(sum("v")).head().getLong(0) == expected + 777L)

    // rebucket takes the same guard
    Lake.beforeCommitHook = { _ =>
      Lake.beforeCommitHook = _ => ()
      lake.appendBucketed(Seq(("mid2", 888L)).toDF("hk", "v"), "dv", "t", "hk")
    }
    try {
      val e = intercept[DvException](lake.rebucket("dv", "t", 8))
      assert(e.error.isInstanceOf[DvError.Concurrency], e.error.render)
    } finally Lake.beforeCommitHook = _ => ()
    assert(lake.tableBuckets("dv", "t") == 4, "aborted rebucket must not change the count")
    assert(lake.read("dv", "t").agg(sum("v")).head().getLong(0) == expected + 777L + 888L)
    // a clean FIRST-compaction baseline: the staged dir inside the source
    // root must not trip the check (its files are the rewrite's own output)
    lake.appendBucketed(Seq(("flat", 1L)).toDF("hk", "v"), "dv", "t2", "hk")
    lake.compact("dv", "t2")
    assert(lake.read("dv", "t2").count() == 1)
  }

  test("a CLAIM-HOLDING loader appending mid-rebucket: no deadlock, typed abort, retry + policy expire reclaim exactly superseded (r20 sf10 twin)") {
    // The load claim (r20) and the compaction claim are independent by
    // design — loads never block generation writers. This is the
    // small-scale twin of the sf10 stress (bench/r20_rebucket_sf10.json):
    // a loader that went through the FULL claimed append path lands rows
    // while a rebucket is staging; the rebucket must abort typed (not
    // deadlock on the loader's claim), the retry must succeed, and the
    // retention policy must then reclaim exactly the superseded layout.
    val root = tmpDir("lake_claimmid_")
    val lake = new Lake(spark, root, buckets = 4)
    lake.appendBucketed((1 to 30).map(i => (s"c$i", i.toLong)).toDF("hk", "v"), "dv", "t", "hk")
    val expected = lake.read("dv", "t").agg(sum("v")).head().getLong(0)
    Lake.beforeCommitHook = { _ =>
      Lake.beforeCommitHook = _ => ()
      lake.withLoadClaim("dv", "t", "midLoad") {
        lake.appendBucketed(Seq(("midc", 999L)).toDF("hk", "v"), "dv", "t", "hk")
      }
    }
    try {
      val e = intercept[DvException](lake.rebucket("dv", "t", 8))
      assert(e.error.isInstanceOf[DvError.Concurrency], e.error.render)
    } finally Lake.beforeCommitHook = _ => ()
    assert(lake.tableBuckets("dv", "t") == 4)
    assert(lake.read("dv", "t").agg(sum("v")).head().getLong(0) == expected + 999L)
    // retry clean, then the policy reclaims EXACTLY the superseded flat
    // layout on the next (claimed) append — current generation intact
    lake.rebucket("dv", "t", 8)
    assert(lake.tableBuckets("dv", "t") == 8)
    val fs = new Path(root).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val tableRoot = new Path(lake.tablePath("dv", "t"))
    assert(fs.listStatus(tableRoot).exists(_.getPath.getName.startsWith("hk_bucket=")),
      "superseded flat layout should survive until the policy window")
    try {
      spark.conf.set(graft.core.Confs.GenRetainMillisKey, "0")
      lake.withLoadClaim("dv", "t", "postLoad") {
        lake.appendBucketed(Seq(("post", 1L)).toDF("hk", "v"), "dv", "t", "hk")
      }
      val names = fs.listStatus(tableRoot).map(_.getPath.getName).toSeq
      assert(!names.exists(_.startsWith("hk_bucket=")) && !names.exists(_.endsWith(".parquet")),
        s"policy expire left superseded root data: $names")
      assert(names.exists(_.startsWith(Lake.GenPrefix)), s"current generation missing: $names")
      assert(lake.read("dv", "t").agg(sum("v")).head().getLong(0) == expected + 999L + 1L)
    } finally spark.conf.unset(graft.core.Confs.GenRetainMillisKey)
  }

  test("expire keeps a root layout record the current generation doesn't carry (manual-migration shape)") {
    val root = tmpDir("lake_rootrec_")
    val lake = new Lake(spark, root, buckets = 4)
    lake.appendBucketed((1 to 20).map(i => (s"k$i", i.toLong)).toDF("hk", "v"), "dv", "t", "hk")
    lake.compact("dv", "t")
    val fs = new Path(root).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val genDir = new Path(lake.dataPath("dv", "t"))
    val tableRoot = new Path(lake.tablePath("dv", "t"))
    // simulate the pre-record migration shape: record at the ROOT only
    // (a table compacted before layout records existed, record added by an
    // operator afterwards — the resolution fallback reads the root copy).
    // The root copy survives from create; remove the generation's own.
    assert(fs.delete(new Path(genDir, Lake.LayoutFile), false))
    assert(fs.exists(new Path(tableRoot, Lake.LayoutFile)), "fixture: root record present")
    lake.expireSuperseded("dv", "t")
    // the root record SURVIVES (deleting it would silently regress the
    // table to session-conf bucket resolution)...
    assert(fs.exists(new Path(tableRoot, Lake.LayoutFile)), "root record expired away")
    val drifted = new Lake(spark, root, buckets = 32)
    assert(drifted.tableBuckets("dv", "t") == 4, "fallback record must govern")
    // ...and the next compact copies it into its generation, after which
    // the root copy is reclaimable as usual
    lake.compact("dv", "t")
    assert(fs.exists(new Path(new Path(lake.dataPath("dv", "t")), Lake.LayoutFile)))
    lake.expireSuperseded("dv", "t")
    assert(!fs.exists(new Path(tableRoot, Lake.LayoutFile)), "carried record: root copy reclaims")
    assert(new Lake(spark, root, buckets = 32).tableBuckets("dv", "t") == 4)
  }

  test("expire refuses to delete data written AFTER the superseding commit (stale-resolution orphan)") {
    // the cross-process shape: a Lake whose cached resolution predates a
    // compaction keeps appending at the table root (or an old generation);
    // those rows postdate the superseding commit, so "superseded legacy
    // data" is a misdiagnosis — deleting them is silent loss. Expire must
    // refuse with a typed error until the operator reconciles.
    val root = tmpDir("lake_orphan_")
    val lake = new Lake(spark, root, buckets = 4)
    lake.appendBucketed((1 to 20).map(i => (s"k$i", i.toLong)).toDF("hk", "v"), "dv", "t", "hk")
    lake.compact("dv", "t")
    Thread.sleep(20) // mtime strictly after the commit marker's
    // orphan write: directly into the superseded flat layout, bypassing the
    // Lake (what a stale cross-process resolution effectively does)
    Seq(("orphan", 999L)).toDF("hk", "v")
      .write.mode("append").parquet(s"${lake.tablePath("dv", "t")}/hk_bucket=0")
    val e = intercept[DvException](lake.expireSuperseded("dv", "t"))
    assert(e.error.isInstanceOf[DvError.Concurrency], e.error.render)
    assert(e.error.message.contains("WRITTEN AFTER"), e.error.message)
    // nothing was deleted — the superseded flat data (and the orphan) survive
    assert(rootChildren(lake, "dv", "t").exists(_.startsWith("hk_bucket=")),
      "refusal must not have deleted anything")
    // operator reconciles (here: removes the orphan) — expire then succeeds
    val fs = new Path(root).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val bucketDir = new Path(lake.tablePath("dv", "t"), "hk_bucket=0")
    fs.listStatus(bucketDir).filter(s => s.getModificationTime >
      fs.getFileStatus(new Path(new Path(lake.dataPath("dv", "t")), Lake.CommitMarker))
        .getModificationTime)
      .foreach(s => fs.delete(s.getPath, false))
    assert(lake.expireSuperseded("dv", "t") > 0)
    assert(!rootChildren(lake, "dv", "t").exists(_.startsWith("hk_bucket=")))
    assert(lake.read("dv", "t").count() == 20)
  }

  test("DvError.from keeps the caller's context on already-typed errors") {
    val typed = new DvException(DvError.Configuration("bucket drift"))
    DvError.from(typed, "flow customer") match {
      case DvError.Configuration(msg, _) => assert(msg == "flow customer: bucket drift")
      case other => fail(s"kind changed: $other")
    }
    // no context: carried through untouched
    assert(DvError.from(typed) == typed.error)
  }
}
