package graft

import org.apache.spark.sql.functions._

import graft.core.{SkewGuard, SkewMemo, Tables}

/** [[graft.core.SkewMemo]]: the skew-guard histogram memo must (a) skip the
  * sample jobs on a re-plan over unchanged parquet inputs, (b) invalidate
  * when the files change (append ⇒ new listing/bytes ⇒ fresh fingerprint),
  * and (c) decline to memoize plans with non-file leaves, whose identity it
  * cannot pin. Job counts are the observable: each uncached histogram runs
  * ≥ 1 Spark job; a memo hit runs zero. */
class SkewMemoSpec extends SparkSpec {
  import spark.implicits._

  private def jobs: Long = TestJobs.count

  private def writeHot(dir: String): Unit =
    spark.range(5000)
      .select(when(col("id") % 10 < 3, lit(0L)).otherwise(col("id")).as("k"), col("id").as("v"))
      .write.mode("overwrite").parquet(dir)

  test("re-planning over unchanged parquet pays the histogram once; append invalidates") {
    val dir = tmpDir("skewmemo") + "/t"
    writeHot(dir)
    SkewMemo.clear()
    spark.conf.set("spark.graft.skewGuard", "auto")
    spark.conf.set("spark.graft.skewGuard.sampleFraction", "1.0")
    spark.conf.set(graft.core.Confs.MinBytesKey, "0")
    try {
      def plan() = Tables.clusterByGuarded(spark.read.parquet(dir), "k")
      val b0 = jobs
      plan()
      val sampleJobs = jobs - b0
      assert(sampleJobs >= 1, "first construction must run the sample")
      // fresh read of the SAME files -> memo hit. The read itself may run a
      // schema/listing job; force analysis BEFORE counting so the counter
      // sees only histogram jobs.
      val df2 = spark.read.parquet(dir)
      df2.queryExecution.optimizedPlan.stats
      val b1 = jobs
      Tables.clusterByGuarded(df2, "k")
      assert(jobs == b1, s"memo hit must run zero jobs, ran ${jobs - b1}")
      // append: file listing + bytes change -> fingerprint misses
      spark.range(2000).select(lit(7L).as("k"), col("id").as("v"))
        .write.mode("append").parquet(dir)
      val b2 = jobs
      plan()
      assert(jobs - b2 >= 1, "append must invalidate the memo")
    } finally {
      spark.conf.unset("spark.graft.skewGuard")
      spark.conf.unset("spark.graft.skewGuard.sampleFraction")
      spark.conf.unset(graft.core.Confs.MinBytesKey)
      SkewMemo.clear()
    }
  }

  test("non-file inputs are never memoized") {
    SkewMemo.clear()
    spark.conf.set("spark.graft.skewGuard", "auto")
    spark.conf.set("spark.graft.skewGuard.sampleFraction", "1.0")
    spark.conf.set(graft.core.Confs.MinBytesKey, "0")
    try {
      val mem = spark.range(1000)
        .select(when(col("id") % 10 < 3, lit(0L)).otherwise(col("id")).as("k"), col("id").as("v"))
      val b0 = jobs
      Tables.clusterByGuarded(mem, "k")
      assert(jobs - b0 >= 1)
      assert(SkewMemo.size == 0, "in-memory plan must not land in the memo")
      val b1 = jobs
      Tables.clusterByGuarded(mem, "k")
      assert(jobs - b1 >= 1, "second construction re-samples (no stable identity)")
    } finally {
      spark.conf.unset("spark.graft.skewGuard")
      spark.conf.unset("spark.graft.skewGuard.sampleFraction")
      spark.conf.unset(graft.core.Confs.MinBytesKey)
      SkewMemo.clear()
    }
  }

  test("differently-filtered plans over the SAME files do not collide (semanticHash in the fingerprint)") {
    val dir = tmpDir("skewmemo3") + "/t"
    writeHot(dir)
    SkewMemo.clear()
    spark.conf.set("spark.graft.skewGuard.sampleFraction", "1.0")
    try {
      // Filter A keeps the hot key (k=0 holds 30%); filter B removes it.
      // Without CBO a Filter doesn't move sizeInBytes, so a paths+bytes
      // fingerprint would hand B a memo hit with A's histogram.
      val hotView = spark.read.parquet(dir).filter(col("v") >= 0)
      val coldView = spark.read.parquet(dir).filter(col("k") =!= 0L)
      val a = SkewGuard.sampledHotKeys(Seq(hotView), "k")
      assert(a.contains(0L), "filter A keeps the hot key")
      val b = SkewGuard.sampledHotKeys(Seq(coldView), "k")
      assert(!b.contains(0L), "filter B's histogram must be its own, not A's memo entry")
      assert(SkewMemo.size == 2, "two distinct fingerprints")
    } finally {
      spark.conf.unset("spark.graft.skewGuard.sampleFraction")
      SkewMemo.clear()
    }
  }

  test("sampledHotKeys with a mixed file + non-file side list memoizes on the file side alone (streaming shape)") {
    val dir = tmpDir("skewmemo4") + "/t"
    writeHot(dir)
    SkewMemo.clear()
    spark.conf.set("spark.graft.skewGuard.sampleFraction", "1.0")
    try {
      // the streaming satellite shape: file-backed history + an in-memory
      // micro-batch. Every batch is a NEW non-file plan; the memo must
      // still hit on the unchanged file side, or production micro-batches
      // re-pay the two-action histogram forever (the r15 +0.5 s/batch
      // class, deferred past the size gate).
      def batch(n: Int) = spark.range(n)
        .select((col("id") + 1000000L).as("k"), col("id").as("v"))
      val first = SkewGuard.sampledHotKeys(
        Seq(spark.read.parquet(dir), batch(50)), "k")
      assert(first.contains(0L))
      assert(SkewMemo.size == 1, "file side fingerprint must land in the memo")
      val df2 = spark.read.parquet(dir)
      df2.queryExecution.optimizedPlan.stats // pre-pay the listing job
      val b1 = jobs
      val second = SkewGuard.sampledHotKeys(Seq(df2, batch(75)), "k")
      assert(jobs == b1, s"fresh micro-batch must not defeat the memo, ran ${jobs - b1} jobs")
      assert(second.toSeq == first.toSeq)
    } finally {
      spark.conf.unset("spark.graft.skewGuard.sampleFraction")
      SkewMemo.clear()
    }
  }

  test("at capacity the memo evicts ONE entry, never the whole map") {
    // A vault with >128 guarded (plan, conf) sites used to clear the memo on
    // every overflow — zero hit rate exactly at the scale the memo exists
    // for. The tag is part of the fingerprint, so one parquet input + many
    // tags makes distinct entries cheaply.
    val dir = tmpDir("skewmemo5") + "/t"
    writeHot(dir)
    SkewMemo.clear()
    try {
      val df = spark.read.parquet(dir)
      (0 until 128).foreach(i => SkewMemo.cached(Seq(df), s"evict$i")(java.lang.Boolean.TRUE))
      assert(SkewMemo.size == 128)
      // two overflowing inserts: size must STAY at capacity (the old
      // clear-on-overflow behavior would leave 1, then 2)
      SkewMemo.cached(Seq(df), "evict128")(java.lang.Boolean.TRUE)
      assert(SkewMemo.size == 128, "one in, one out — not a full clear")
      SkewMemo.cached(Seq(df), "evict129")(java.lang.Boolean.TRUE)
      assert(SkewMemo.size == 128)
      // the just-inserted entry is definitely resident: probing it again
      // must be a hit (no recompute)
      var computed = 0
      SkewMemo.cached(Seq(df), "evict129") { computed += 1; java.lang.Boolean.TRUE }
      assert(computed == 0, "freshly-inserted entry must hit after an eviction")
    } finally SkewMemo.clear()
  }

  test("sampledHotKeys memo: same files hit, distinct confs miss") {
    val dir = tmpDir("skewmemo2") + "/t"
    writeHot(dir)
    SkewMemo.clear()
    spark.conf.set("spark.graft.skewGuard.sampleFraction", "1.0")
    try {
      def hot() = SkewGuard.sampledHotKeys(
        Seq(spark.read.parquet(dir)), "k")
      val first = hot()
      assert(first.nonEmpty && first.contains(0L), "30%-hot key must be named")
      val df2 = spark.read.parquet(dir)
      df2.queryExecution.optimizedPlan.stats // pre-pay the listing job
      val b1 = jobs
      val second = SkewGuard.sampledHotKeys(Seq(df2), "k")
      assert(jobs == b1, s"memo hit must run zero jobs, ran ${jobs - b1}")
      assert(second.toSeq == first.toSeq)
      // a different hotShare is a different histogram — must recompute
      spark.conf.set("spark.graft.skewGuard.hotShare", "0.04")
      val b2 = jobs
      hot()
      assert(jobs - b2 >= 1, "changed conf must miss the memo")
    } finally {
      spark.conf.unset("spark.graft.skewGuard.sampleFraction")
      spark.conf.unset("spark.graft.skewGuard.hotShare")
      SkewMemo.clear()
    }
  }
}
