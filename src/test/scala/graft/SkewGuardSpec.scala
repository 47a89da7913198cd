package graft

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.plans.logical.RepartitionByExpression
import org.apache.spark.sql.functions._

import graft.core.{SkewMemo, Tables}
import graft.dv.{DvOps, LoadContext}

/** [[graft.core.SkewGuard]] and its three sites: the guard must keep each
  * site's exact unguarded plan under `off` and below the size gate, and
  * under `auto` pick per the sampled key histogram — split (or skip
  * clustering) on a hostile distribution, keep the plan on a uniform one.
  * Results are plan-shape-only: every mode returns the same rows. */
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
    spark.conf.set("spark.graft.skewGuard", "off")
    val off = rows(Tables.clusterByGuarded(hotFrame, "k"))
    spark.conf.set("spark.graft.skewGuard", "auto")
    spark.conf.set("spark.graft.skewGuard.sampleFraction", "0.5")
    spark.conf.set(graft.core.Confs.MinBytesKey, "0")
    val auto = rows(Tables.clusterByGuarded(hotFrame, "k"))
    spark.conf.unset("spark.graft.skewGuard")
    spark.conf.unset("spark.graft.skewGuard.sampleFraction")
    spark.conf.unset(graft.core.Confs.MinBytesKey)
    assert(off == base && auto == base)
  }

  test("unknown mode fails loudly") {
    // the modes are exactly off|auto: `force` is rejected like any typo
    for (mode <- Seq("sometimes", "force")) {
      spark.conf.set("spark.graft.skewGuard", mode)
      try {
        val e = intercept[IllegalArgumentException](Tables.clusterByGuarded(hotFrame, "k"))
        assert(e.getMessage.contains("skewGuard") && e.getMessage.contains(mode), e.getMessage)
      } finally spark.conf.unset("spark.graft.skewGuard")
    }
  }

  private val ctx = LoadContext(java.sql.Timestamp.valueOf("2026-01-01 00:00:00"), "skew", 7L)

  /** A 10k-row satellite whose key "hot" holds 30% of the rows, written as
    * parquet and read back with its schema (no inference job), and an
    * in-memory staged batch that touches the hot key and a few others. */
  private def satFiles(): (() => DataFrame, DataFrame) = {
    val dir = tmpDir("skewsites") + "/sat"
    val sat = spark.range(10000).select(
      when(col("id") % 10 < 3, lit("hot")).otherwise(concat(lit("k"), col("id").cast("string"))).as("hk"),
      (lit(1767225600L) + col("id")).cast("timestamp").as("load_dts"),
      lit(false).as("del_flag"),
      concat(lit("hd"), col("id").cast("string")).as("hash_diff"),
      lit("src").as("record_source"),
      (col("id") % 3).as("run_id"),
      concat(lit("p"), col("id").cast("string")).as("payload"))
    sat.write.parquet(dir)
    val schema = sat.schema
    val staged = (Seq.fill(20)(("hot", "hot-new", "hp")) ++ Seq(("k1", "hd1", "p1"), ("new", "n", "np")))
      .toDF("src_hk", "grp_hashdiff", "payload")
    (() => spark.read.schema(schema).parquet(dir), staged)
  }

  /** The three guarded sites, each with its "engaged" plan test: the
    * current-view clustering skips its repartition, the satellite loads
    * take their salted split. */
  private def sites(sat: DataFrame, staged: DataFrame): Seq[(String, DataFrame, DataFrame => Boolean)] = {
    def salted(df: DataFrame) = df.queryExecution.analyzed.toString.contains("__salt")
    Seq(
      ("clusterByGuarded", Tables.clusterByGuarded(sat, "hk"), (df: DataFrame) => !clustered(df)),
      ("satNewRows", DvOps.satNewRows(staged, sat, "src_hk", "grp_hashdiff",
        Seq("payload" -> "payload"), "hk", ctx), salted _),
      ("satDeleteRows", DvOps.satDeleteRows(staged, sat, "src_hk", Seq("payload"), "hk", ctx), salted _))
  }

  private def rowsOf(df: DataFrame): Seq[String] = df.collect().map(_.toString).sorted.toSeq

  test("one gate at all three sites: off and sub-gate sample nothing; auto engages all three on one shared histogram") {
    val (read, staged) = satFiles()
    SkewMemo.clear()
    spark.conf.set("spark.graft.skewGuard.sampleFraction", "1.0")
    try {
      var jobsRun = 0L
      def built(): Seq[(String, DataFrame, DataFrame => Boolean)] = {
        val before = TestJobs.count
        val s = sites(read(), staged)
        jobsRun = TestJobs.count - before
        s
      }
      spark.conf.set("spark.graft.skewGuard", "off")
      val off = built()
      assert(jobsRun == 0L, s"off must sample nothing, ran $jobsRun jobs")
      off.foreach { case (site, df, engaged) => assert(!engaged(df), s"$site: off must keep its plan") }
      assert(clustered(off.head._2), "off keeps clusterByGuarded's clustered plan")
      val offRows = off.map { case (site, df, _) => site -> rowsOf(df) }

      spark.conf.set("spark.graft.skewGuard", "auto")
      val gated = built()
      assert(jobsRun == 0L, s"auto below the gate must sample nothing, ran $jobsRun jobs")
      gated.foreach { case (site, df, engaged) => assert(!engaged(df), s"$site: gated auto must keep its plan") }

      spark.conf.set(graft.core.Confs.MinBytesKey, "0")
      val auto = built()
      assert(jobsRun >= 1L, "the first engaged site samples the histogram")
      auto.foreach { case (site, df, engaged) => assert(engaged(df), s"$site: a 30%-hot key must engage") }
      assert(SkewMemo.size == 1, "all three sites sample one key of the same files: one memo entry")
      assert(built().forall { case (_, df, engaged) => engaged(df) })
      assert(jobsRun == 0L, s"a repeat over the same files must hit the shared memo, ran $jobsRun jobs")
      assert(auto.map { case (site, df, _) => site -> rowsOf(df) } == offRows, "rows must not depend on the mode")
    } finally {
      spark.conf.unset("spark.graft.skewGuard")
      spark.conf.unset("spark.graft.skewGuard.sampleFraction")
      spark.conf.unset(graft.core.Confs.MinBytesKey)
      SkewMemo.clear()
    }
  }

  test("each gate decision is one DEBUG line on the guard's logger") {
    import org.apache.logging.log4j.{Level, LogManager}
    import org.apache.logging.log4j.core.{LogEvent, Logger => CoreLogger}
    import org.apache.logging.log4j.core.appender.AbstractAppender
    val (read, staged) = satFiles()
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val appender = new AbstractAppender("graftSkewGuardDebug", null, null, true,
        org.apache.logging.log4j.core.config.Property.EMPTY_ARRAY) {
      override def append(e: LogEvent): Unit =
        if (e.getLevel == Level.DEBUG) seen.add(e.getMessage.getFormattedMessage)
    }
    val logger = LogManager.getLogger("graft.core.SkewGuard").asInstanceOf[CoreLogger]
    val level = logger.getLevel
    appender.start()
    logger.addAppender(appender)
    logger.setLevel(Level.DEBUG)
    spark.conf.set("spark.graft.skewGuard.sampleFraction", "1.0")
    try {
      def lines(): Seq[String] = {
        seen.clear()
        sites(read(), staged)
        seen.asScala.toSeq
      }
      spark.conf.set("spark.graft.skewGuard", "off")
      assert(lines().isEmpty, "off makes no gate decision")
      spark.conf.unset("spark.graft.skewGuard")
      val gated = lines()
      assert(gated.size == 3, gated.mkString("\n"))
      assert(gated.forall(_.contains("engaged=false knownBytes=")), gated.mkString("\n"))
      spark.conf.set(graft.core.Confs.MinBytesKey, "0")
      val engaged = lines()
      assert(engaged.map(_.takeWhile(_ != ' ')) ==
        Seq("clusterByGuarded(hk)", "satNewRows(hk)", "satDeleteRows(hk)"), engaged.mkString("\n"))
      assert(engaged.forall(l => l.matches(".* engaged=true knownBytes=[0-9]+")), engaged.mkString("\n"))
    } finally {
      logger.removeAppender(appender)
      logger.setLevel(level)
      appender.stop()
      spark.conf.unset("spark.graft.skewGuard")
      spark.conf.unset("spark.graft.skewGuard.sampleFraction")
      spark.conf.unset(graft.core.Confs.MinBytesKey)
      SkewMemo.clear()
    }
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
