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

  private def gen(n: Int): String = s"${Lake.GenPrefix}$n"

  private def localDir(path: String): java.io.File = new java.io.File(new Path(path).toUri.getPath)

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
    // the first write committed generation 1, record inside it
    assert(rootChildren(writer, "dv", "t") == Set(gen(1)))
    assert(writer.dataPath("dv", "t").endsWith(gen(1)))
    assert(localDir(writer.dataPath("dv", "t")).list().contains(Lake.LayoutFile))

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
    assert(writer.dataPath("dv", "t").endsWith(gen(2)))
    // record lives INSIDE the generation (one marker committed data+layout),
    // and records the rewrite's sort
    assert(writer.tableLayout("dv", "t").contains(TableLayout(4, "hk", Seq("hk"))))
    // the superseded generation goes with its record
    writer.expireSuperseded("dv", "t")
    assert(rootChildren(writer, "dv", "t") == Set(gen(2)))
    val drifted = new Lake(spark, root, buckets = 32)
    assert(drifted.tableBuckets("dv", "t") == 4)
    assert(drifted.lookupBucketed("dv", "t", "hk", "k1_17")
      .select("v").as[Long].head() == 17L)
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
    // B resolves (and caches) generation 1
    assert(b.dataPath("metadata", "runinfo").endsWith(gen(1)))
    assert(b.read("metadata", "runinfo").count() == 2)
    // A compacts: B must observe the committed generation 2 immediately
    a.compact("metadata", "runinfo")
    assert(b.dataPath("metadata", "runinfo").endsWith(gen(2)),
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
    assert(lake.dataPath("dv", "t").endsWith(gen(2)))
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
    assert(lake.dataPath("dv", "t").endsWith(gen(2)))

    // the pre-rebucket reader completes (superseded data retained one cycle)
    assert(oldReader.agg(sum("v")).head().getLong(0) == expectedSum)

    // a record-less (plain-appended) table refuses rebucket without an
    // explicit keyCol
    lake.append(Seq(("a", 1L)).toDF("hk", "v"), "dv", "nolayout")
    assert(lake.tableLayout("dv", "nolayout").isEmpty)
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
      // overwrite deletes and restages the table: claim-gated like them
      val e4 = intercept[DvException](lake.overwrite(Seq(("x", 0L)).toDF("hk", "v"), "dv", "t"))
      assert(e4.error.isInstanceOf[DvError.Concurrency], e4.error.render)
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
    lake.compact("dv", "t") // gen-2; gen-1 superseded
    assert(rootChildren(lake, "dv", "t") == Set(gen(1), gen(2)))

    withConf(Confs.GenRetainMillisKey, "3600000") {
      // an in-flight reader of gen-2 resolved before the next rewrite
      val oldReader = lake.read("dv", "t")
      lake.compact("dv", "t") // gen-3; gen-1 and gen-2 superseded but INSIDE the window
      assert(rootChildren(lake, "dv", "t") == Set(gen(1), gen(2), gen(3)),
        "young superseded gens survive a re-compact")
      // appends don't reclaim them either while young
      lake.appendBucketed(Seq(("x", 0L)).toDF("hk", "v"), "dv", "t", "hk")
      assert(rootChildren(lake, "dv", "t") == Set(gen(1), gen(2), gen(3)))
      // the old-generation reader COMPLETES under the window
      assert(oldReader.agg(sum("v")).head().getLong(0) == expected)
    }
    withConf(Confs.GenRetainMillisKey, "0") {
      // window elapsed (0 ms): the table's own next append reclaims —
      // nobody had to remember expireSuperseded
      lake.appendBucketed(Seq(("y", 0L)).toDF("hk", "v"), "dv", "t", "hk")
      assert(rootChildren(lake, "dv", "t") == Set(gen(3)), rootChildren(lake, "dv", "t").mkString(","))
    }
    assert(lake.read("dv", "t").agg(sum("v")).head().getLong(0) == expected)

    // explicit expireSuperseded ignores the window (it IS the drain statement)
    lake.compact("dv", "t")
    withConf(Confs.GenRetainMillisKey, "3600000") {
      assert(rootChildren(lake, "dv", "t") == Set(gen(3), gen(4)))
      lake.expireSuperseded("dv", "t")
      assert(rootChildren(lake, "dv", "t") == Set(gen(4)))
    }
  }

  test("plain append routes through the committed generation (runinfo ledger shape): no rows lost to compact/expire") {
    val root = tmpDir("lake_plainapp_")
    val lake = new Lake(spark, root, buckets = 4)
    // the ledger write path: plain (non-bucketed) appends
    lake.append(Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("run_id", "status"), "metadata", "runinfo")
    assert(lake.dataPath("metadata", "runinfo").endsWith(gen(1)))
    lake.compact("metadata", "runinfo") // the archetypal small-file target
    assert(lake.dataPath("metadata", "runinfo").endsWith(gen(2)))
    // post-compaction appends MUST land inside the current generation — in
    // the superseded one they'd be invisible to reads and deleted by the
    // next expire (lost ledger rows double-ingest files)
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
    // nothing committed, nothing lost: gen-1 still current INCLUDING the
    // mid-staging append's row
    assert(lake.dataPath("dv", "t").endsWith(gen(1)))
    assert(lake.read("dv", "t").agg(sum("v")).head().getLong(0) == expected + 777L)
    // the next (unraced) compact succeeds and carries every row
    lake.compact("dv", "t")
    assert(lake.dataPath("dv", "t").endsWith(gen(2)))
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
    assert(lake.dataPath("dv", "t").endsWith(gen(2)))
    assert(lake.read("dv", "t").agg(sum("v")).head().getLong(0) == expected + 777L + 888L)
    // an unraced rewrite of a fresh table commits gen-2 cleanly
    lake.appendBucketed(Seq(("one", 1L)).toDF("hk", "v"), "dv", "t2", "hk")
    lake.compact("dv", "t2")
    assert(lake.dataPath("dv", "t2").endsWith(gen(2)))
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
    assert(lake.dataPath("dv", "t").endsWith(gen(1)), "aborted rebucket must not commit")
    assert(lake.read("dv", "t").agg(sum("v")).head().getLong(0) == expected + 999L)
    // retry clean, then the policy reclaims EXACTLY the superseded gen-1 on
    // the next (claimed) append — current generation intact
    lake.rebucket("dv", "t", 8)
    assert(lake.tableBuckets("dv", "t") == 8)
    assert(lake.dataPath("dv", "t").endsWith(gen(2)))
    assert(rootChildren(lake, "dv", "t") == Set(gen(1), gen(2)),
      "superseded gen-1 should survive until the policy window")
    try {
      spark.conf.set(graft.core.Confs.GenRetainMillisKey, "0")
      lake.withLoadClaim("dv", "t", "postLoad") {
        lake.appendBucketed(Seq(("post", 1L)).toDF("hk", "v"), "dv", "t", "hk")
      }
      assert(rootChildren(lake, "dv", "t") == Set(gen(2)),
        s"policy expire must leave exactly the current generation: ${rootChildren(lake, "dv", "t")}")
      assert(lake.read("dv", "t").agg(sum("v")).head().getLong(0) == expected + 999L + 1L)
    } finally spark.conf.unset(graft.core.Confs.GenRetainMillisKey)
  }

  test("expire refuses to delete data written AFTER the superseding commit (stale-resolution orphan)") {
    // the cross-process shape: a Lake whose cached resolution predates a
    // compaction keeps appending into the superseded generation; those rows
    // postdate the superseding commit, so "superseded data" is a
    // misdiagnosis — deleting them is silent loss. Expire must refuse with
    // a typed error until the operator reconciles.
    val root = tmpDir("lake_orphan_")
    val lake = new Lake(spark, root, buckets = 4)
    lake.appendBucketed((1 to 20).map(i => (s"k$i", i.toLong)).toDF("hk", "v"), "dv", "t", "hk")
    lake.compact("dv", "t")
    assert(lake.dataPath("dv", "t").endsWith(gen(2)))
    Thread.sleep(20) // mtime strictly after the commit marker's
    // orphan write: directly into the superseded gen-1, bypassing the Lake
    // (what a stale cross-process resolution effectively does)
    val bucketDir = new Path(new Path(lake.tablePath("dv", "t"), gen(1)), "hk_bucket=0")
    Seq(("orphan", 999L)).toDF("hk", "v").write.mode("append").parquet(bucketDir.toString)
    val e = intercept[DvException](lake.expireSuperseded("dv", "t"))
    assert(e.error.isInstanceOf[DvError.Concurrency], e.error.render)
    assert(e.error.message.contains("WRITTEN AFTER"), e.error.message)
    // nothing was deleted — the superseded gen-1 (and the orphan) survive
    assert(rootChildren(lake, "dv", "t") == Set(gen(1), gen(2)),
      "refusal must not have deleted anything")
    // operator reconciles (here: removes the orphan) — expire then succeeds
    val fs = new Path(root).getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.listStatus(bucketDir).filter(s => s.getModificationTime >
      fs.getFileStatus(new Path(new Path(lake.dataPath("dv", "t")), Lake.CommitMarker))
        .getModificationTime)
      .foreach(s => fs.delete(s.getPath, false))
    assert(lake.expireSuperseded("dv", "t") > 0)
    assert(rootChildren(lake, "dv", "t") == Set(gen(2)))
    assert(lake.read("dv", "t").count() == 20)
  }

  test("crash leftover: an uncommitted gen-1 reads as absent and the next first append replaces it") {
    val root = tmpDir("lake_leftover_")
    val lake = new Lake(spark, root, buckets = 4)
    // a first write that crashed before its commit marker
    Seq(("leftover", 1L)).toDF("hk", "v").write.parquet(s"${lake.tablePath("dv", "t")}/${gen(1)}")
    assert(!lake.exists("dv", "t"))
    assert(lake.readOr("dv", "t", Seq(("a", 0L)).toDF("hk", "v").schema).count() == 0L)
    val e = intercept[DvException](lake.dataPath("dv", "t"))
    assert(e.error.isInstanceOf[DvError.Entity], e.error.render)
    // a first write stages without the claim, so expire cannot tell this
    // leftover from a live one and leaves a table with no committed
    // generation alone
    assert(lake.expireSuperseded("dv", "t") == 0L)
    assert(rootChildren(lake, "dv", "t") == Set(gen(1)))
    assert(localDir(s"${lake.tablePath("dv", "t")}/${gen(1)}").list().exists(_.endsWith(".parquet")))

    assert(lake.appendBucketed((1 to 10).map(i => (s"k$i", i.toLong)).toDF("hk", "v"),
      "dv", "t", "hk") == 10L)
    assert(rootChildren(lake, "dv", "t") == Set(gen(1)))
    val genChildren = localDir(lake.dataPath("dv", "t")).list().toSet
    assert(Set(Lake.LayoutFile, Lake.CommitMarker).subsetOf(genChildren), genChildren)
    assert(genChildren.exists(_.startsWith("hk_bucket=")), genChildren)
    assert(lake.read("dv", "t").count() == 10L, "the leftover's rows must be gone")
    assert(lake.tableLayout("dv", "t").contains(TableLayout(4, "hk", Nil)))
  }

  test("a flat-layout root is refused with a typed error by every entry point, and nothing is deleted") {
    val root = tmpDir("lake_flatroot_")
    val lake = new Lake(spark, root, buckets = 4)
    val rows = (1 to 8).map(i => (s"k$i", i.toLong)).toDF("hk", "v")
    val bucketed = rows.withColumn("hk_bucket", lake.bucketOf(col("hk")))
    // the shapes the older layout left: plain part files and hk_bucket=
    // partition dirs directly in the table root, and — once compacted and
    // its superseded data expired — only `_gen-N` dirs beside a root layout
    // record
    rows.write.parquet(lake.tablePath("metadata", "flat"))
    bucketed.write.partitionBy("hk_bucket").parquet(lake.tablePath("dv", "flat"))
    val oldGen = s"${lake.tablePath("dv", "hub_customer")}/_gen-2"
    bucketed.write.partitionBy("hk_bucket").parquet(oldGen)
    java.nio.file.Files.createFile(java.nio.file.Paths.get(oldGen, Lake.CommitMarker))
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(lake.tablePath("dv", "hub_customer"), Lake.LayoutFile),
      """{"version":1,"bucketCount":4,"keyCol":"hk","sortBy":[]}""")
    def files(layer: String, name: String): Set[String] = {
      val p = new Path(lake.tablePath(layer, name))
      val it = p.getFileSystem(spark.sparkContext.hadoopConfiguration).listFiles(p, true)
      Iterator.continually(it).takeWhile(_.hasNext).map(_.next().getPath.toString).toSet
    }
    def refused(layer: String, name: String, what: String)(op: => Any): Unit = {
      val e = intercept[DvException](op)
      assert(e.error.isInstanceOf[DvError.Configuration], s"$what: ${e.error.render}")
      assert(e.error.message.contains(lake.tablePath(layer, name)), s"$what: ${e.error.message}")
    }
    Seq("metadata" -> "flat", "dv" -> "flat", "dv" -> "hub_customer").foreach { case (layer, name) =>
      val before = files(layer, name)
      def refusedHere(what: String)(op: => Any): Unit = refused(layer, name, what)(op)
      refusedHere("exists")(lake.exists(layer, name))
      refusedHere("readOr")(lake.readOr(layer, name, rows.schema))
      refusedHere("appendBucketed")(lake.appendBucketed(rows, layer, name, "hk"))
      refusedHere("overwrite")(lake.overwrite(rows, layer, name))
      refusedHere("compact")(lake.compact(layer, name))
      refusedHere("expireSuperseded")(lake.expireSuperseded(layer, name))
      assert(files(layer, name) == before, s"$layer.$name: a refusal deleted or wrote files")
    }
    // initVault's ensure would overwrite an absent table: it must see the
    // refusal, not an absent hub
    val before = files("dv", "hub_customer")
    val meta = graft.meta.MetaStore(
      tables = Seq(graft.meta.TableColumn("customer", "hub", "c_custkey", "BIGINT", 1, "bk")),
      transitions = Nil)
    val g = new Graft(spark, root, meta, None, graft.dv.HashGen.Md5)
    refused("dv", "hub_customer", "initVault")(g.initVault())
    assert(files("dv", "hub_customer") == before, "initVault deleted or wrote files")
    assert(spark.read.parquet(oldGen).count() == rows.count())
  }

  test("empty writes: an empty overwrite commits a 0-row table, an empty first appendBucketed leaves none") {
    val root = tmpDir("lake_empty_")
    val lake = new Lake(spark, root, buckets = 4)
    val schema = Seq(("a", 0L)).toDF("hk", "v").schema
    val empty = spark.createDataFrame(java.util.Collections.emptyList[org.apache.spark.sql.Row](), schema)
    lake.overwrite(Seq(("x", 1L)).toDF("hk", "v"), "stg", "s")
    lake.overwrite(empty, "stg", "s") // truncate
    assert(lake.exists("stg", "s"))
    assert(lake.dataPath("stg", "s").endsWith(gen(1)))
    assert(lake.readOr("stg", "s", schema).count() == 0L)
    assert(rootChildren(lake, "stg", "s") == Set(gen(1)))
    // an overwrite whose frame reads the table itself is refused before the
    // delete, as Spark's own overwrite refuses it
    lake.overwrite(Seq(("y", 2L)).toDF("hk", "v"), "stg", "s")
    intercept[org.apache.spark.sql.AnalysisException](
      lake.overwrite(lake.read("stg", "s").filter(col("v") > 0L), "stg", "s"))
    assert(lake.read("stg", "s").count() == 1L)

    assert(lake.appendBucketed(empty, "dv", "e", "hk") == 0L)
    assert(!lake.exists("dv", "e"))
    assert(lake.tableLayout("dv", "e").isEmpty)
    val eRoot = new java.io.File(lake.tablePath("dv", "e"))
    assert(!eRoot.exists() || eRoot.list().isEmpty, eRoot.list().mkString(","))
  }

  private def recordText(lake: Lake, layer: String, name: String): String =
    java.nio.file.Files.readString(new java.io.File(localDir(lake.dataPath(layer, name)), Lake.LayoutFile).toPath)

  private def filesIn(lake: Lake, layer: String, name: String, bucket: Long): Int =
    localDir(s"${lake.dataPath(layer, name)}/hk_bucket=$bucket").list().count(_.endsWith(".parquet"))

  test("an unpinned lake sizes a new table: one bucket while small, 16 after a compaction past the gate") {
    val lake = new Lake(spark, tmpDir("lake_sized_"))
    assert(!lake.bucketsPinned)
    val keys = (1 to 40).map(i => s"key$i")
    val err = new java.io.ByteArrayOutputStream
    Console.withErr(err) {
      lake.appendBucketed(keys.take(5).map(k => (k, k.length.toLong)).toDF("hk", "v"), "dv", "t", "hk")
      assert(bucketDirs(lake, "dv", "t") == Set(0L))
      assert(filesIn(lake, "dv", "t", 0L) == 1)
      assert(lake.tableLayout("dv", "t").contains(TableLayout(1, "hk", Nil, sized = true)))
      assert(recordText(lake, "dv", "t").contains("\"sized\":true"), recordText(lake, "dv", "t"))
      lake.appendBucketed(keys.drop(5).map(k => (k, k.length.toLong)).toDF("hk", "v"), "dv", "t", "hk")
      assert(bucketDirs(lake, "dv", "t") == Set(0L))
      assert(lake.lookupBucketed("dv", "t", "hk", "key7").count() == 1L)
    }
    assert(!err.toString.contains("NOTE"), s"drift note for a sized table: $err")
    val before = lake.read("dv", "t").drop("hk_bucket").as[(String, Long)].collect().sorted.toSeq
    // the default gate keeps the KB-sized table at one bucket
    lake.compact("dv", "t")
    assert(lake.tableLayout("dv", "t").contains(TableLayout(1, "hk", Nil, sized = true)))
    // a gate below the table's bytes re-sizes it through the rebucket rewrite
    withConf(Confs.ProbePruneMinBytesKey, "1")(lake.compact("dv", "t", sortBy = Seq("hk")))
    assert(lake.dataPath("dv", "t").endsWith(gen(3)))
    assert(lake.tableLayout("dv", "t").contains(TableLayout(16, "hk", Seq("hk"), sized = true)))
    assert(bucketDirs(lake, "dv", "t").exists(_ > 0L), bucketDirs(lake, "dv", "t"))
    assert(lake.read("dv", "t").drop("hk_bucket").as[(String, Long)].collect().sorted.toSeq == before)
    keys.foreach { k =>
      assert(lake.lookupBucketed("dv", "t", "hk", k).select("v").as[Long].collect().toSeq
        == Seq(k.length.toLong), k)
    }
  }

  test("pinned counts keep their count through compact: constructor, conf, rebucket, and a record without sized") {
    val rows = (1 to 30).map(i => (s"key$i", i.toLong)).toDF("hk", "v")
    def compactPastGate(lake: Lake, name: String): Unit =
      withConf(Confs.ProbePruneMinBytesKey, "1")(lake.compact("dv", name))
    // constructor: the record is byte-identical to the pinned record format
    val byArg = new Lake(spark, tmpDir("lake_pin_arg_"), buckets = 4)
    assert(byArg.bucketsPinned)
    byArg.appendBucketed(rows, "dv", "t", "hk")
    assert(recordText(byArg, "dv", "t") == """{"version":1,"bucketCount":4,"keyCol":"hk","sortBy":[]}""")
    compactPastGate(byArg, "t")
    byArg.compact("dv", "t")
    assert(byArg.tableLayout("dv", "t").contains(TableLayout(4, "hk", Nil)))
    // conf
    val byConf = withConf(Lake.BucketsKey, "16")(new Lake(spark, tmpDir("lake_pin_conf_")))
    assert(byConf.bucketsPinned)
    byConf.appendBucketed(rows, "dv", "t", "hk")
    byConf.compact("dv", "t")
    assert(byConf.tableLayout("dv", "t").contains(TableLayout(16, "hk", Nil)))
    // an explicit rebucket pins the count of a sized table
    val unpinned = new Lake(spark, tmpDir("lake_pin_rebucket_"))
    unpinned.appendBucketed(rows, "dv", "t", "hk")
    unpinned.rebucket("dv", "t", 4)
    assert(unpinned.tableLayout("dv", "t").contains(TableLayout(4, "hk", Nil)))
    unpinned.compact("dv", "t")
    compactPastGate(unpinned, "t")
    assert(unpinned.tableLayout("dv", "t").contains(TableLayout(4, "hk", Nil)))
    // a record written without the field reads as pinned
    unpinned.appendBucketed(rows, "dv", "h", "hk")
    assert(unpinned.tableLayout("dv", "h").exists(_.sized))
    val record = new Path(unpinned.dataPath("dv", "h"), Lake.LayoutFile)
    val out = record.getFileSystem(spark.sparkContext.hadoopConfiguration).create(record, true)
    try out.write("""{"version":1,"bucketCount":1,"keyCol":"hk","sortBy":[]}""".getBytes("UTF-8"))
    finally out.close()
    compactPastGate(unpinned, "h")
    assert(unpinned.tableLayout("dv", "h").contains(TableLayout(1, "hk", Nil)))
    assert(unpinned.read("dv", "h").count() == 30L)
  }

  test("an increment of unknown size (a DataFrame over an RDD) gives a new table 16 buckets") {
    val lake = new Lake(spark, tmpDir("lake_sized_rdd_"))
    val rows = (1 to 40).map(i => org.apache.spark.sql.Row(s"key$i", i.toLong))
    val df = spark.createDataFrame(spark.sparkContext.parallelize(rows, 2),
      Seq(("a", 0L)).toDF("hk", "v").schema)
    assert(graft.core.Tables.estBytesKnown(df).isEmpty)
    lake.appendBucketed(df, "dv", "t", "hk")
    assert(lake.tableLayout("dv", "t").contains(TableLayout(Lake.DefaultBuckets, "hk", Nil, sized = true)))
    assert(bucketDirs(lake, "dv", "t").size > 1)
  }

  test("each bucket-count decision is one DEBUG line on graft.core.Lake; a pinned lake makes none") {
    import scala.jdk.CollectionConverters._
    import org.apache.logging.log4j.{Level, LogManager}
    import org.apache.logging.log4j.core.{LogEvent, Logger => CoreLogger}
    import org.apache.logging.log4j.core.appender.AbstractAppender
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val appender = new AbstractAppender("graftLakeDebug", null, null, true,
        org.apache.logging.log4j.core.config.Property.EMPTY_ARRAY) {
      override def append(e: LogEvent): Unit =
        if (e.getLevel == Level.DEBUG) seen.add(e.getMessage.getFormattedMessage)
    }
    val logger = LogManager.getLogger("graft.core.Lake").asInstanceOf[CoreLogger]
    val level = logger.getLevel
    appender.start()
    logger.addAppender(appender)
    logger.setLevel(Level.DEBUG)
    try {
      val rows = (1 to 10).map(i => (s"key$i", i.toLong)).toDF("hk", "v")
      new Lake(spark, tmpDir("lake_log_pinned_"), buckets = 4).appendBucketed(rows, "dv", "t", "hk")
      assert(seen.isEmpty, seen.asScala.mkString("\n"))
      val lake = new Lake(spark, tmpDir("lake_log_"))
      lake.appendBucketed(rows, "dv", "t", "hk")
      lake.appendBucketed(rows, "dv", "t", "hk") // the record decides: no line
      withConf(Confs.ProbePruneMinBytesKey, "1")(lake.compact("dv", "t"))
      val lines = seen.asScala.toSeq
      assert(lines.size == 2, lines.mkString("\n"))
      assert(lines(0).matches(
        s"appendBucketed\\(dv\\.t\\) knownBytes=[0-9]+ gate=${256L << 20} buckets=1"), lines(0))
      assert(lines(1).matches("compact\\(dv\\.t\\) knownBytes=[0-9]+ gate=1 buckets=16"), lines(1))
    } finally {
      logger.removeAppender(appender)
      logger.setLevel(level)
      appender.stop()
    }
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
