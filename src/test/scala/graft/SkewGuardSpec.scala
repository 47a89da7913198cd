package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.plans.logical.RepartitionByExpression
import org.apache.spark.sql.functions._

import graft.core.Tables

/** [[graft.core.Tables.clusterByGuarded]]: the skew escape hatch must keep
  * the exact clusterBy shape by default, skip clustering under `force`, and
  * under `auto` pick per the sampled key histogram — skip on a hostile
  * distribution, cluster on a uniform one. Results are plan-shape-only:
  * every mode returns the same rows (pinned below). */
class SkewGuardSpec extends SparkSpec {
  import spark.implicits._

  private def clustered(df: DataFrame): Boolean =
    df.queryExecution.optimizedPlan.collect { case r: RepartitionByExpression => r }.nonEmpty

  // 10k rows, one key holding 30% — far past the 5% default threshold
  private def hotFrame =
    spark.range(10000)
      .select(when(col("id") % 10 < 3, lit(0L)).otherwise(col("id")).as("k"), col("id").as("v"))

  private def uniformFrame = spark.range(10000).select((col("id") % 997).as("k"), col("id").as("v"))

  test("default (auto + size gate) keeps the clusterBy plan on small inputs, zero extra jobs") {
    // The r15 default flip: spark.graft.skewGuard defaults to `auto`, and
    // what makes that safe is the minBytes gate — this sub-gate frame keeps
    // the exact clusterBy shape WITHOUT paying a histogram, so default
    // plans on bench/test-scale inputs are bit-identical to `off`.
    assert(graft.core.Confs.skewGuard(spark.conf) == "auto", "default mode must be auto")
    val before = TestJobs.count
    val g = Tables.clusterByGuarded(hotFrame, "k")
    val after = TestJobs.count
    assert(clustered(g))
    assert(after == before, s"default must sample nothing under the gate, ran ${after - before} jobs")
    assert(g.columns.toSeq == Seq("k", "v"))
  }

  test("force mode returns the input unclustered") {
    spark.conf.set("spark.graft.skewGuard", "force")
    try assert(!clustered(Tables.clusterByGuarded(hotFrame, "k")))
    finally spark.conf.unset("spark.graft.skewGuard")
  }

  test("auto mode skips clustering on a hot key and clusters on uniform keys") {
    spark.conf.set("spark.graft.skewGuard", "auto")
    spark.conf.set("spark.graft.skewGuard.sampleFraction", "0.5")
    spark.conf.set(graft.core.Confs.MinBytesKey, "0") // tiny test frames: force past the size gate
    try {
      assert(!clustered(Tables.clusterByGuarded(hotFrame, "k")), "30%-hot key must skip clustering")
      assert(clustered(Tables.clusterByGuarded(uniformFrame, "k")), "uniform keys must keep clusterBy")
    } finally {
      spark.conf.unset("spark.graft.skewGuard")
      spark.conf.unset("spark.graft.skewGuard.sampleFraction")
      spark.conf.unset(graft.core.Confs.MinBytesKey)
    }
  }

  test("auto size gate: sub-minBytes inputs keep clusterBy, no histogram sampled") {
    // The gate is what makes auto a safe DEFAULT: this 10k-row frame sits
    // far under the 256 MiB default floor, so even its 30%-hot key keeps
    // the uniform-key plan — and ZERO extra Spark jobs run (the ungated
    // histogram costs two actions per plan construction; BASELINE.md r14
    // measured +14% on the full sf0.1 bench from exactly that).
    spark.conf.set("spark.graft.skewGuard", "auto")
    spark.conf.set("spark.graft.skewGuard.sampleFraction", "1.0")
    try {
      val before = TestJobs.count
      assert(clustered(Tables.clusterByGuarded(hotFrame, "k")), "gated: plan = clusterBy")
      val after = TestJobs.count
      assert(after == before, s"gated auto must sample nothing, ran ${after - before} jobs")
      // malformed floor names the key
      spark.conf.set(graft.core.Confs.MinBytesKey, "big")
      val e = intercept[IllegalArgumentException](Tables.clusterByGuarded(hotFrame, "k"))
      assert(e.getMessage.contains(graft.core.Confs.MinBytesKey))
    } finally {
      spark.conf.unset("spark.graft.skewGuard")
      spark.conf.unset("spark.graft.skewGuard.sampleFraction")
      spark.conf.unset(graft.core.Confs.MinBytesKey)
    }
  }

  test("estBytesKnown: sentinel is EQUALITY — a lowered defaultSizeInBytes does not blind the gate") {
    // r15 ADVICE finding: with the old `>= default` comparison, deployments
    // that LOWER spark.sql.defaultSizeInBytes (a common broadcast tuning)
    // made every scan larger than the new default read as "unknown",
    // silently disabling skewGuard=auto where it matters most.
    val dir = tmpDir("ebk") + "/t"
    spark.range(50000).select(col("id").as("k"), col("id").as("v"))
      .write.parquet(dir)
    val scan = spark.read.parquet(dir)
    val real = Tables.estBytesKnown(scan)
    assert(real.exists(_ > 0), s"file scan must have known bytes, got $real")
    val oldDefault = spark.conf.get("spark.sql.defaultSizeInBytes", Long.MaxValue.toString)
    try {
      // lower the sentinel BELOW the scan's real bytes — the scan must
      // still be known (its stats are real, not the sentinel)
      spark.conf.set("spark.sql.defaultSizeInBytes", "1024")
      val lowered = Tables.estBytesKnown(spark.read.parquet(dir))
      assert(lowered == real, s"lowered default must not blind the gate: $lowered vs $real")
      // while a stats-less leaf (LogicalRDD) reports EXACTLY the sentinel
      // and must stay unknown — even at the lowered value
      val rddBacked = spark.createDataFrame(
        spark.sparkContext.parallelize(Seq(org.apache.spark.sql.Row(1L, 1L))),
        scan.schema)
      assert(Tables.estBytesKnown(rddBacked).isEmpty, "LogicalRDD must stay unknown")
    } finally spark.conf.set("spark.sql.defaultSizeInBytes", oldDefault)
  }

  test("auto mode with an under-sized sample falls back to clustered") {
    spark.conf.set("spark.graft.skewGuard", "auto")
    // 10k rows × 1e-4 ≈ 1 sampled row — below the 200-row floor
    spark.conf.set("spark.graft.skewGuard.sampleFraction", "0.0001")
    spark.conf.set(graft.core.Confs.MinBytesKey, "0")
    try assert(clustered(Tables.clusterByGuarded(hotFrame, "k")))
    finally {
      spark.conf.unset("spark.graft.skewGuard")
      spark.conf.unset("spark.graft.skewGuard.sampleFraction")
      spark.conf.unset(graft.core.Confs.MinBytesKey)
    }
  }

  test("all modes return identical rows") {
    def rows(df: DataFrame) = df.as[(Long, Long)].collect().sorted.toSeq
    val base = rows(Tables.clusterBy(hotFrame, "k"))
    spark.conf.set("spark.graft.skewGuard", "force")
    val forced = rows(Tables.clusterByGuarded(hotFrame, "k"))
    spark.conf.set("spark.graft.skewGuard", "auto")
    spark.conf.set("spark.graft.skewGuard.sampleFraction", "0.5")
    spark.conf.set(graft.core.Confs.MinBytesKey, "0")
    val auto = rows(Tables.clusterByGuarded(hotFrame, "k"))
    spark.conf.unset("spark.graft.skewGuard")
    spark.conf.unset("spark.graft.skewGuard.sampleFraction")
    spark.conf.unset(graft.core.Confs.MinBytesKey)
    assert(forced == base && auto == base)
  }

  test("unknown mode fails loudly") {
    spark.conf.set("spark.graft.skewGuard", "sometimes")
    try {
      val e = intercept[IllegalArgumentException](Tables.clusterByGuarded(hotFrame, "k"))
      assert(e.getMessage.contains("skewGuard"))
    } finally spark.conf.unset("spark.graft.skewGuard")
  }

  test("malformed or out-of-range skewGuard confs fail naming the key") {
    spark.conf.set("spark.graft.skewGuard", "auto")
    try {
      for ((key, bad) <- Seq(
          graft.core.Confs.SampleFractionKey -> "often", // not a number
          graft.core.Confs.SampleFractionKey -> "1.5",   // > 1: would fail deep in sample()
          graft.core.Confs.SampleFractionKey -> "0",
          graft.core.Confs.HotShareKey -> "lots",
          graft.core.Confs.HotShareKey -> "1.0")) {
        spark.conf.set(key, bad)
        try {
          val e = intercept[IllegalArgumentException](Tables.clusterByGuarded(hotFrame, "k"))
          assert(e.getMessage.contains(key), s"message for $key='$bad' must name the key: ${e.getMessage}")
        } finally spark.conf.unset(key)
      }
    } finally spark.conf.unset("spark.graft.skewGuard")
  }
}
