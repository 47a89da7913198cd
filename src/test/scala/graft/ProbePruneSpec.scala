package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{StringType, StructField, StructType}

import graft.core.{Confs, Lake}

/** [[graft.core.Lake.readOrProbe]]: the size-gated bucket-pruned probe for
  * incremental loads. Pins (a) the scan really shrinks to the staged
  * batch's buckets, (b) load results are IDENTICAL pruned vs unpruned —
  * the semantics that make pruning legal for anti-joins and delta probes,
  * (c) the gate keeps small tables on the plain full scan, and (d) a
  * batch spanning every bucket falls back to the full scan. */
class ProbePruneSpec extends SparkSpec {
  import spark.implicits._

  private val hkSchema = StructType(StructField("hk", StringType) :: Nil)

  /** A lake with `n` keys spread over the buckets; returns (lake, keys). */
  private def vault(buckets: Int, n: Int): (Lake, Seq[String]) = {
    val lake = new Lake(spark, tmpDir("probeprune"), buckets)
    val keys = (1 to n).map(i => s"key$i")
    lake.appendBucketed(keys.map(k => (k, k.length.toLong)).toDF("hk", "v"), "dv", "hub", "hk")
    (lake, keys)
  }

  test("pruned probe reads only the staged buckets and matches the full scan's join result") {
    val (lake, keys) = vault(buckets = 8, n = 80)
    // staged keys from exactly ONE bucket — plus a brand-new key that
    // hashes into that same bucket set (new keys must survive the anti-join)
    val b0 = lake.bucketOfValue(keys.head)
    val sameBucket = keys.filter(k => lake.bucketOfValue(k) == b0).take(4)
    val fresh = (1 to 999).map(i => s"new$i").find(k => lake.bucketOfValue(k) == b0).get
    val staged = (sameBucket :+ fresh).toDF("hk")
    try {
      spark.conf.set(Confs.ProbePruneMinBytesKey, "0")
      val full = lake.readOr("dv", "hub", hkSchema)
      val pruned = lake.readOrProbe("dv", "hub", hkSchema, staged, col("hk"))
      // inputFiles is leaf-level (pre-pruning) — count the files the scan
      // actually READS instead
      def filesRead(df: DataFrame): Long =
        df.select(input_file_name()).distinct().count()
      assert(filesRead(pruned) < filesRead(full),
        s"pruned ${filesRead(pruned)} vs full ${filesRead(full)} files read")
      assert(filesRead(pruned) == 1L, "one bucket staged -> one bucket's file read")
      // anti-join results identical: only the fresh key survives either way
      def anti(existing: DataFrame) =
        staged.join(existing, Seq("hk"), "left_anti").as[String].collect().sorted.toSeq
      assert(anti(pruned) == Seq(fresh))
      assert(anti(pruned) == anti(full))
    } finally spark.conf.unset(Confs.ProbePruneMinBytesKey)
  }

  test("pruned probe + span-counted append work unchanged on a COMPACTED (generational) table") {
    // after compaction the data lives under {table}/gen-2/hk_bucket=... —
    // the pruned probe's partition paths and the counted append's write
    // must both resolve through the current generation, not the first one
    val (lake, keys) = vault(buckets = 8, n = 80)
    val gen2 = s"${graft.core.Lake.GenPrefix}2"
    lake.compact("dv", "hub")
    assert(lake.dataPath("dv", "hub").endsWith(gen2))
    val b0 = lake.bucketOfValue(keys.head)
    val sameBucket = keys.filter(k => lake.bucketOfValue(k) == b0).take(4)
    val fresh = (1 to 999).map(i => s"new$i").find(k => lake.bucketOfValue(k) == b0).get
    val staged = (sameBucket :+ fresh).toDF("hk")
    try {
      spark.conf.set(Confs.ProbePruneMinBytesKey, "0")
      val pruned = lake.readOrProbe("dv", "hub", hkSchema, staged, col("hk"))
      val read = pruned.select(input_file_name()).distinct().as[String].collect()
      assert(read.length == 1, "one bucket staged -> one generation file read")
      assert(read.forall(f => f.contains(s"/$gen2/") && f.contains(s"hk_bucket=$b0/")),
        read.mkString(","))
      val anti = staged.join(pruned, Seq("hk"), "left_anti")
      // counted append: the new file lands INSIDE the generation dir, and
      // the count is exactly the fresh row (the footer sum of that file)
      val n = ScratchSpec.footerCounted(lake, "dv", "hub")(lake.appendBucketed(
        anti.withColumn("v", lit(0L)).select(col("hk"), col("v")), "dv", "hub", "hk"))
      assert(n == 1L, s"counted $n")
      assert(lake.readOr("dv", "hub",
        StructType(Seq(StructField("hk", StringType),
          StructField("v", org.apache.spark.sql.types.LongType)))).count() == 81)
      // and the appended row landed inside gen-2: after reclaiming the
      // retained gen-1, the root holds ONLY gen-2
      lake.expireSuperseded("dv", "hub")
      val rootEntries = new java.io.File(lake.tablePath("dv", "hub")).listFiles().map(_.getName)
      assert(rootEntries.toSeq == Seq(gen2),
        s"post-compaction appends must land in the current generation: ${rootEntries.mkString(",")}")
    } finally spark.conf.unset(Confs.ProbePruneMinBytesKey)
  }

  test("default gate keeps small tables on the full scan; all-bucket batches fall back") {
    val (lake, keys) = vault(buckets = 4, n = 40)
    val full = lake.readOr("dv", "hub", hkSchema)
    // default 256 MiB gate: this KB-sized table must NOT pay the bucket
    // collect — plan reads the same files as readOr
    val gated = lake.readOrProbe("dv", "hub", hkSchema, keys.take(3).toDF("hk"), col("hk"))
    assert(gated.inputFiles.sorted.toSeq == full.inputFiles.sorted.toSeq)
    try {
      spark.conf.set(Confs.ProbePruneMinBytesKey, "0")
      // a batch spanning every bucket: pruning buys nothing — full scan
      val allBuckets = lake.readOrProbe("dv", "hub", hkSchema, keys.toDF("hk"), col("hk"))
      assert(allBuckets.inputFiles.sorted.toSeq == full.inputFiles.sorted.toSeq)
      // absent table: empty frame, no crash
      assert(lake.readOrProbe("dv", "nope", hkSchema, keys.take(2).toDF("hk"), col("hk")).isEmpty)
    } finally spark.conf.unset(Confs.ProbePruneMinBytesKey)
  }

  test("satellite DELTA load over a pruned probe equals the unpruned load") {
    val lake = new Lake(spark, tmpDir("probeprune_sat"), buckets = 8)
    val keys = (1 to 60).map(i => s"hk$i")
    // two versions per key in history
    val hist = keys.flatMap(k => Seq(
      (k, java.sql.Timestamp.valueOf("2026-01-01 00:00:00"), false, s"d1_$k", "src", 1L, s"p1_$k"),
      (k, java.sql.Timestamp.valueOf("2026-01-02 00:00:00"), false, s"d2_$k", "src", 2L, s"p2_$k")
    )).toDF("customer_hk", "load_dts", "del_flag", "hash_diff", "record_source", "run_id", "c_name")
    lake.appendBucketed(hist, "dv", "sat", "customer_hk")
    // staged: half the keys re-delivered UNCHANGED (d2), half CHANGED (d3),
    // from a bucket-limited subset
    val b = lake.bucketOfValue(keys.head)
    val subset = keys.filter(k => lake.bucketOfValue(k) == b)
    assert(subset.size >= 3, s"need >= 3 keys in bucket $b, got ${subset.size}")
    val (unchanged, changed) = subset.splitAt(subset.size / 2)
    val hv = (unchanged.map(k => (k, s"d2_$k", s"p2_$k")) ++
      changed.map(k => (k, s"d3_$k", s"p3_$k"))).toDF("customer_hk", "hd", "c_name")
    val ctx = graft.dv.LoadContext(java.sql.Timestamp.valueOf("2026-01-03 00:00:00"), "src", 3L)
    val satSchema = lake.readOr("dv", "sat", hist.schema).schema
    def load(existing: DataFrame) =
      graft.dv.DvOps.satNewRows(hv, existing, "customer_hk", "hd",
        Seq("c_name" -> "c_name"), "customer_hk", ctx)
        .select("customer_hk", "hash_diff").as[(String, String)].collect().sorted.toSeq
    try {
      spark.conf.set(Confs.ProbePruneMinBytesKey, "0")
      val pruned = load(lake.readOrProbe("dv", "sat", satSchema, hv, col("customer_hk")))
      val full = load(lake.readOr("dv", "sat", satSchema))
      assert(pruned == full)
      assert(pruned == changed.sorted.map(k => (k, s"d3_$k")), "only changed keys version")
    } finally spark.conf.unset(Confs.ProbePruneMinBytesKey)
  }

  test("a one-bucket table runs no bucket-set job: the forced-open gate returns the full scan") {
    val (lake, keys) = vault(buckets = 1, n = 20)
    val full = lake.readOr("dv", "hub", hkSchema)
    val staged = keys.take(3).toDF("hk")
    try {
      spark.conf.set(Confs.ProbePruneMinBytesKey, "0")
      val j0 = TestJobs.count
      val probe = lake.readOrProbe("dv", "hub", hkSchema, staged, col("hk"))
      assert(TestJobs.count - j0 == 0, "readOrProbe ran a job on a one-bucket table")
      assert(probe.as[String].collect().sorted.toSeq == full.as[String].collect().sorted.toSeq)
    } finally spark.conf.unset(Confs.ProbePruneMinBytesKey)
  }
}

