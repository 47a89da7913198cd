package graft

import org.apache.spark.sql.functions._

import graft.core.Scratch
import graft.queries.Ann

object ScratchSpec {
  import org.apache.hadoop.fs.Path

  /** Test-side reference count for a bucketed append: lists the table's
    * parquet files before and after `append` and sums the footer row counts
    * of the files that appeared. Fails unless `append` returned exactly that
    * sum; returns it. Valid only while nothing else writes the table. */
  def footerCounted(lake: graft.core.Lake, layer: String, name: String)(append: => Long): Long = {
    val conf = lake.spark.sparkContext.hadoopConfiguration
    val root = new Path(lake.tablePath(layer, name))
    val fs = root.getFileSystem(conf)
    def files(): Set[Path] =
      if (!fs.exists(root)) Set.empty
      else {
        val it = fs.listFiles(root, true)
        Iterator.continually(it).takeWhile(_.hasNext).map(_.next().getPath)
          .filter(_.getName.endsWith(".parquet")).toSet
      }
    val before = files()
    val n = append
    val footers = (files() -- before).iterator.map { f =>
      val r = org.apache.parquet.hadoop.ParquetFileReader.open(
        org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(f, conf))
      try r.getRecordCount finally r.close()
    }.sum
    org.scalatest.Assertions.assert(n == footers, s"$layer.$name: append returned $n, footers sum $footers")
    n
  }
}

/** Pins the cluster-portable scratch contract: every intermediate landing
  * (cc labels, frozen centroids, Verify aux) resolves under ONE root that
  * `spark.graft.scratch.dir` overrides, and the default root reproduces the
  * pre-Scratch local paths bit-for-bit (so oracle hashes can't move). */
class ScratchSpec extends SparkSpec {

  private def withRoot[A](root: String)(body: => A): A =
    try { spark.conf.set(Scratch.ConfKey, root); body }
    finally spark.conf.unset(Scratch.ConfKey)

  test("default root is the JVM tmpdir; conf overrides it") {
    val tmp = sys.props("java.io.tmpdir").stripSuffix("/")
    assert(Scratch.root(spark) == tmp)
    withRoot("/some/shared/store/") {
      assert(Scratch.root(spark) == "/some/shared/store")
      assert(Scratch.stablePath(spark, "x") == "/some/shared/store/x")
      assert(Scratch.tempDir(spark, "pfx_").startsWith("/some/shared/store/pfx_"))
    }
  }

  test("tempDir paths are unique and live under the root") {
    val a = Scratch.tempDir(spark, "graft_t_")
    val b = Scratch.tempDir(spark, "graft_t_")
    assert(a != b)
    assert(a.startsWith(Scratch.root(spark) + "/graft_t_"))
  }

  test("frozenCentroidsPath: injective corpus keying under the scratch root; per-run property wins") {
    val dir = "/root/testdata/sf0.001"
    // r20: the key carries a short digest of the RAW dir — two corpora
    // whose spellings sanitize identically ('/x/my corpus' vs
    // '/x/my_corpus') must not share a frozen artifact (the cross-JVM
    // reuse contract would serve one the other's merges forever)
    val digest = java.security.MessageDigest.getInstance("MD5")
      .digest(dir.getBytes("UTF-8")).take(4).map("%02x".format(_)).mkString
    val key = s"_root_testdata_sf0.001_$digest"
    assert(sys.props.get("graft.centroids.dir").isEmpty)
    assert(Ann.frozenCentroidsPath(spark, dir)
      == sys.props("java.io.tmpdir").stripSuffix("/") + s"/graft_knn_centroids_$key")
    withRoot("/shared/scratch") {
      assert(Ann.frozenCentroidsPath(spark, dir)
        == s"/shared/scratch/graft_knn_centroids_$key")
    }
    // sanitization-colliding spellings get DISTINCT keys
    assert(graft.core.FrozenArtifact.sharedPath(spark, "p", "/x/my corpus")
      != graft.core.FrozenArtifact.sharedPath(spark, "p", "/x/my_corpus"))
    // the Verify per-run property still wins over the scratch root (the
    // pending-DuckDB-compare isolation contract)
    try {
      System.setProperty("graft.centroids.dir", "/verify/run1")
      withRoot("/shared/scratch") {
        assert(Ann.frozenCentroidsPath(spark, dir)
          == s"/verify/run1/.graft_aux/knn_centroids_$key")
      }
    } finally System.clearProperty("graft.centroids.dir")
  }

  test("Lake bucket count: spark.graft.buckets conf applies; explicit arg wins") {
    import graft.core.Lake
    val root = tmpDir("graft_lake_conf_")
    assert(new Lake(spark, root).bucketCount == Lake.DefaultBuckets)
    assert(!new Lake(spark, root).bucketsPinned)
    assert(new Lake(spark, root, buckets = 16).bucketsPinned)
    try {
      spark.conf.set(Lake.BucketsKey, "32")
      assert(new Lake(spark, root).bucketCount == 32)
      assert(new Lake(spark, root).bucketsPinned)
      assert(new Lake(spark, root, buckets = 4).bucketCount == 4)
    } finally spark.conf.unset(Lake.BucketsKey)
  }

  test("uncounted first append: rows land readable; an EMPTY first increment leaves no table") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val lake = new graft.core.Lake(spark, tmpDir("lake_unc"), buckets = 4)
    // empty first increment: the single-pass write must not leave a
    // part-file-less dir behind (readOr would then explode on read)
    val empty = Seq.empty[(String, Long)].toDF("hk", "v")
    lake.appendBucketed(empty, "dv", "t", "hk")
    assert(!lake.exists("dv", "t"), "empty first append must leave the table absent")
    val schema = empty.schema
    assert(lake.readOr("dv", "t", schema).count() == 0)
    // non-empty first increment: single pass, rows readable
    val rows = Seq(("a", 1L), ("b", 2L), ("c", 3L)).toDF("hk", "v")
    lake.appendBucketed(rows, "dv", "t", "hk")
    assert(lake.readOr("dv", "t", schema).as[(String, Long)].collect().sorted.toSeq
      == Seq(("a", 1L), ("b", 2L), ("c", 3L)))
    // empty SECOND append: harmless no-op on an existing table
    lake.appendBucketed(empty, "dv", "t", "hk")
    assert(lake.readOr("dv", "t", schema).count() == 3)
  }

  test("counted append returns the footer row count of exactly the files it wrote") {
    import spark.implicits._
    val lake = new graft.core.Lake(spark, tmpDir("lake_cnt"), buckets = 4)
    val s = Seq(("a", 1L), ("b", 2L), ("c", 3L)).toDF("hk", "v").schema
    def counted(name: String, df: org.apache.spark.sql.DataFrame): Long =
      ScratchSpec.footerCounted(lake, "dv", name)(lake.appendBucketed(df, "dv", name, "hk"))
    // first append: creates the table, rows spread over several buckets
    assert(counted("t", Seq(("a", 1L), ("b", 2L), ("c", 3L)).toDF("hk", "v")) == 3L)
    // second append: count must cover ONLY the new files, not the table
    assert(counted("t", Seq(("d", 4L), ("e", 5L)).toDF("hk", "v")) == 2L)
    // empty increment on an existing table: zero, no phantom files
    assert(counted("t", Seq.empty[(String, Long)].toDF("hk", "v")) == 0L)
    // empty FIRST increment: zero and the table stays absent
    assert(counted("t2", Seq.empty[(String, Long)].toDF("hk", "v")) == 0L)
    assert(!lake.exists("dv", "t2"))
    // a one-key increment lands in one bucket: one file, its one row
    assert(counted("t", Seq(("zz", 7L)).toDF("hk", "v")) == 1L)
    // a wide increment spread over many input partitions: every bucket gets
    // one file and the count is the whole increment
    assert(counted("t", spark.range(0, 1000, 1, 8)
      .selectExpr("concat('w', id) as hk", "id as v")) == 1000L)
    assert(lake.readOr("dv", "t", s).count() == 1006)
    // compacted table: the append lands inside the committed generation and
    // is counted there
    lake.compact("dv", "t")
    assert(counted("t", Seq(("post", 8L), ("post2", 9L)).toDF("hk", "v")) == 2L)
    assert(lake.readOr("dv", "t", s).count() == 1008)
  }

  test("a few-row bucketed append writes in fewer tasks than buckets, one file per non-empty bucket") {
    import org.apache.hadoop.fs.Path
    import spark.implicits._
    val keys = (1 to 40).map(i => s"k$i")
    val rec = new graft.tools.StageRecorder(spark.sparkContext)
    // One fresh 16-bucket table per arm, exchanged into 32 shuffle
    // partitions: wider than the bucket count, so only AQE's coalescing can
    // bring the write stage under it. Returns the write stage's task count,
    // the expected bucket set and the parquet files of each bucket dir.
    def append(coalesce: Boolean): (Long, Set[Long], Map[String, Int]) = {
      val lake = new graft.core.Lake(spark, tmpDir("lake_few"), buckets = 16)
      val confs = Seq("spark.sql.shuffle.partitions" -> "32",
        "spark.sql.adaptive.coalescePartitions.enabled" -> coalesce.toString)
      val prev = confs.map { case (k, _) => k -> spark.conf.getOption(k) }
      rec.reset()
      try {
        confs.foreach { case (k, v) => spark.conf.set(k, v) }
        assert(lake.appendBucketed(keys.map(k => (k, 1L)).toDF("hk", "v"), "dv", "t", "hk") == keys.size)
      } finally prev.foreach {
        case (k, Some(v)) => spark.conf.set(k, v)
        case (k, None) => spark.conf.unset(k)
      }
      val dir = new Path(lake.dataPath("dv", "t"))
      val fs = dir.getFileSystem(spark.sparkContext.hadoopConfiguration)
      val files = fs.listStatus(dir).filter(_.getPath.getName.startsWith("hk_bucket=")).map { b =>
        b.getPath.getName -> fs.listStatus(b.getPath).count(_.getPath.getName.endsWith(".parquet"))
      }.toMap
      (rec.stages.last.tasks, keys.map(lake.bucketOfValue).toSet, files)
    }
    try {
      val (coalescedTasks, buckets, coalescedFiles) = append(coalesce = true)
      val (wideTasks, _, wideFiles) = append(coalesce = false)
      assert(buckets.size > 8, buckets)
      assert(coalescedTasks < 16, s"write stage ran $coalescedTasks tasks for 16 buckets")
      assert(wideTasks == 32, s"uncoalesced write stage ran $wideTasks tasks")
      for (files <- Seq(coalescedFiles, wideFiles)) {
        assert(files.keySet == buckets.map(b => s"hk_bucket=$b"), files)
        assert(files.values.forall(_ == 1), files)
      }
    } finally rec.close()
  }

  test("concurrent counted appends to two tables: each returns only its own rows") {
    import spark.implicits._
    val lake = new graft.core.Lake(spark, tmpDir("lake_cnt2"), buckets = 4)
    val sizes = Map("a" -> 300L, "b" -> 17L)
    (1 to 3).foreach { round =>
      val pool = java.util.concurrent.Executors.newFixedThreadPool(2)
      try {
        val futures = sizes.toSeq.map { case (t, k) =>
          t -> pool.submit(new java.util.concurrent.Callable[Long] {
            def call(): Long = lake.appendBucketed(
              spark.range(0, k).selectExpr(s"concat('$t${round}_', id) as hk", "id as v"),
              "dv", t, "hk")
          })
        }
        futures.foreach { case (t, f) =>
          assert(f.get(5, java.util.concurrent.TimeUnit.MINUTES) == sizes(t), s"table $t round $round")
        }
      } finally pool.shutdown()
    }
    sizes.foreach { case (t, k) => assert(lake.read("dv", t).count() == 3 * k, t) }
  }

  test("self-reading uncounted append: the scan's listing snapshot predates the write (no double-read, no race)") {
    import spark.implicits._
    val lake = new graft.core.Lake(spark, tmpDir("lake_selfread"), buckets = 4)
    val schema = Seq(("seed", 1L)).toDF("hk", "v").schema
    lake.appendBucketed(Seq(("seed", 1L)).toDF("hk", "v"), "dv", "t", "hk")
    // Each round's increment SCANS the target it appends to (the satellite
    // delta probe shape). The listing-snapshot invariant says every scan
    // sees exactly the pre-append file set: rows double geometrically
    // (1 → 2 → 4 → 8). A scan racing its own output would over-count
    // (re-listed new part files) or crash (FILE_NOT_EXIST on a swapped
    // file); a dropped snapshot would under-count.
    (1 to 3).foreach { round =>
      val increment = lake.readOr("dv", "t", schema)
        .withColumn("hk", concat_ws("_", col("hk"), lit(round.toString)))
      lake.appendBucketed(increment, "dv", "t", "hk")
      assert(lake.readOr("dv", "t", schema).count() == (1L << round),
        s"after self-read append $round")
    }
    val all = lake.readOr("dv", "t", schema).as[(String, Long)].collect().map(_._1).sorted
    assert(all.length == 8 && all.distinct.length == 8, all.mkString(","))
  }

  test("compact is a committed-generation swap: a concurrent reader sees old or new data, never absent or mixed") {
    import spark.implicits._
    val root = tmpDir("genswap")
    val lake = new graft.core.Lake(spark, root, buckets = 4)
    (1 to 3).foreach { g =>
      lake.appendBucketed(
        spark.range(g * 100L, g * 100L + 50L).selectExpr("cast(id as string) as hk", "id as v"),
        "dv", "t", "hk")
    }
    val expected = lake.read("dv", "t").agg(sum(col("v"))).head().getLong(0)

    // a reader whose file listing resolved BEFORE the compaction commit
    val oldReader = lake.read("dv", "t")

    val (before, after) = lake.compact("dv", "t")
    assert(after <= before)
    // "files after" is the write's own file count: the committed
    // generation's parquet files, exactly
    val genDir = new org.apache.hadoop.fs.Path(lake.dataPath("dv", "t"))
    val genFiles = genDir.getFileSystem(spark.sparkContext.hadoopConfiguration).listFiles(genDir, true)
    assert(after == Iterator.continually(genFiles).takeWhile(_.hasNext)
      .count(_.next().getPath.getName.endsWith(".parquet")).toLong)

    // post-commit: new readers resolve the committed generation 2
    val gen = graft.core.Lake.GenPrefix
    assert(lake.dataPath("dv", "t").endsWith(s"${gen}2"))
    assert(lake.read("dv", "t").count() == 150)
    assert(lake.read("dv", "t").agg(sum(col("v"))).head().getLong(0) == expected)

    // the pre-commit reader COMPLETES its scan: superseded data is retained
    // one compaction cycle — the old two-rename swap's absent-table window
    // is gone on every store (the commit is one marker-file create)
    assert(oldReader.agg(sum(col("v"))).head().getLong(0) == expected)

    // an UNCOMMITTED staged generation (crashed compaction) is invisible to
    // resolution — no marker, no data change
    spark.range(5).selectExpr("cast(id as string) as hk", "id as v")
      .write.parquet(s"$root/dv/t/${gen}99")
    assert(lake.read("dv", "t").count() == 150)

    // the next compact expires the crashed leftover AND the superseded
    // generation 1, then commits generation 3; generation 2 is retained one
    // cycle
    lake.compact("dv", "t")
    assert(lake.dataPath("dv", "t").endsWith(s"${gen}3"))
    assert(lake.read("dv", "t").count() == 150)
    val fsPath = new org.apache.hadoop.fs.Path(lake.tablePath("dv", "t"))
    val fs = fsPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    def rootChildren: Set[String] = fs.listStatus(fsPath).map(_.getPath.getName).toSet
    assert(rootChildren == Set(s"${gen}2", s"${gen}3"), rootChildren.mkString(","))

    // explicit early reclaim once in-flight readers are drained
    lake.expireSuperseded("dv", "t")
    assert(rootChildren == Set(s"${gen}3"), rootChildren.mkString(","))

    // appends after compaction land INSIDE the committed generation, read
    // back through the same resolution, and bucket-pruned lookups still work
    lake.appendBucketed(
      spark.range(1000L, 1010L).selectExpr("cast(id as string) as hk", "id as v"),
      "dv", "t", "hk")
    assert(lake.read("dv", "t").count() == 160)
    assert(lake.lookupBucketed("dv", "t", "hk", "1005").select("v").as[Long].head() == 1005L)
    assert(rootChildren == Set(s"${gen}3"), rootChildren.mkString(","))

    // expireSuperseded is a no-op on never-compacted tables and on absent
    // tables — nothing to reclaim, nothing deleted
    lake.appendBucketed(
      spark.range(5).selectExpr("cast(id as string) as hk", "id as v"), "dv", "fresh", "hk")
    assert(lake.expireSuperseded("dv", "fresh") == 0L)
    assert(lake.read("dv", "fresh").count() == 5)
    assert(lake.expireSuperseded("dv", "missing") == 0L)
  }

  test("dedup cc landing honors the scratch root end-to-end") {
    val root = tmpDir("graft_scratch_root_")
    val out = withRoot(root) {
      graft.queries.Dedup.dedupClusters(spark, "/root/testdata/sf0.001")
    }
    // the returned DataFrame reads parquet under the overridden root
    val files = out.inputFiles
    assert(files.nonEmpty)
    assert(files.forall(_.contains(root)), files.take(2).mkString(", "))
    assert(out.count() > 0)
  }
}
