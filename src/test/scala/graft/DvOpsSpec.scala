package graft

import java.sql.Timestamp

import org.apache.spark.sql.functions._

import graft.dv.{DvOps, LoadContext}

class DvOpsSpec extends SparkSpec {
  import spark.implicits._

  private def ts(s: String) = Timestamp.valueOf(s)
  private val ctx = LoadContext(ts("2026-01-02 00:00:00"), "test", 7L)

  // (hk, load_dts, del_flag, hash_diff, record_source, run_id, payload)
  private def sat(rows: (String, String, Boolean, String, Long, String)*) =
    rows.toSeq
      .map { case (hk, d, del, hd, rid, p) => (hk, ts(d), del, hd, "seed", rid, p) }
      .toDF("hk", "load_dts", "del_flag", "hash_diff", "record_source", "run_id", "payload")

  test("latestRows picks the newest row per key with deterministic tiebreak") {
    val s = sat(
      ("k1", "2026-01-01 00:00:00", false, "h1", 1L, "old"),
      ("k1", "2026-01-01 12:00:00", false, "h2", 2L, "new"),
      ("k2", "2026-01-01 00:00:00", false, "h3", 1L, "a"),
      ("k2", "2026-01-01 00:00:00", false, "h3", 2L, "b")) // same ts: run_id wins
    val out = DvOps.latestRows(s, "hk").select("hk", "payload").as[(String, String)].collect().toMap
    assert(out == Map("k1" -> "new", "k2" -> "b"))
  }

  test("graft_latest: equal to the sort-window latest across many keys, ties, and partitions") {
    // The typed struct-max (ObjectHashAggregate path) must agree with the
    // row_number window formulation row for row, including ordering ties
    // resolved by hash_diff and groups split across many partitions (so
    // both update() and merge()/serialize() paths run). 500 keys x up to 7
    // versions, deterministic pseudo-random attributes.
    import org.apache.spark.sql.expressions.Window
    val rows = for {
      k <- 0 until 500
      v <- 0 to (k % 7)
    } yield (
      s"k$k",
      ts(f"2026-01-${1 + (v * 3 + k) % 27}%02d 00:00:00"),
      false,
      s"h${(k * 31 + v * 17) % 11}", // collisions -> real hash_diff ties
      ((k + v) % 3).toLong,
      s"p$k-$v")
    val df = rows
      .toDF("hk", "load_dts", "del_flag", "hash_diff", "run_id", "payload")
      .withColumn("record_source", lit("seed"))
      .repartition(16)
    val fast = DvOps.latestRows(df, "hk")
      .select("hk", "load_dts", "hash_diff", "run_id", "payload")
      .as[(String, Timestamp, String, Long, String)].collect().toSet
    val w = Window.partitionBy(col("hk"))
      .orderBy(col("load_dts").desc, col("run_id").desc, col("hash_diff").desc, col("payload").desc)
    val slow = df.withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
      .select("hk", "load_dts", "hash_diff", "run_id", "payload")
      .as[(String, Timestamp, String, Long, String)].collect().toSet
    assert(fast == slow,
      s"diff: ${(fast diff slow).take(3)} / ${(slow diff fast).take(3)}")
  }

  test("satNewRows inserts new keys, changed payloads, and re-activations only") {
    val existing = sat(
      ("k1", "2026-01-01 00:00:00", false, "same", 1L, "p1"),
      ("k2", "2026-01-01 00:00:00", false, "will-change", 1L, "p2"),
      ("k3", "2026-01-01 00:00:00", true, "same-but-deleted", 1L, "p3"))
    val staged = Seq(
      ("k1", "same", "p1"),          // unchanged -> no insert
      ("k2", "changed", "p2b"),      // changed hashdiff -> insert
      ("k3", "same-but-deleted", "p3"), // latest row deleted -> re-insert
      ("k4", "brand-new", "p4")      // new key -> insert
    ).toDF("src_hk", "grp_hashdiff", "payload")
    val out = DvOps.satNewRows(
      staged, existing, "src_hk", "grp_hashdiff",
      Seq("payload" -> "payload"), "hk", ctx)
    val keys = out.select("hk").as[String].collect().sorted
    assert(keys.toSeq == Seq("k2", "k3", "k4"))
    assert(out.filter(col("del_flag")).count() == 0)
    assert(out.select("run_id").distinct().as[Long].head() == 7L)
  }

  test("salted delta load matches unsalted on a hot-key batch") {
    // One hot key carries 60% of all version rows and staged duplicates;
    // the salted two-level shape must return the exact unsalted row set —
    // including the per-key latest pick surviving the two-level max and
    // duplicate staged rows still collapsing under salt-of-hashdiff.
    val existing = (
      // hot: 300 versions, the latest (day 27, run 2) is active with hd "hot-hd-last"
      (for (v <- 0 until 300) yield
        ("hot", f"2026-01-${1 + v % 27}%02d 00:00:00", v % 5 == 0 && v != 299,
          if (v == 285) "hot-hd-last" else s"hd$v", (v % 3).toLong, s"p$v")) ++
      (for (k <- 0 until 40; v <- 0 to k % 4) yield
        (s"k$k", f"2026-01-${1 + v}%02d 00:00:00", false, s"hd$k-$v", v.toLong, s"p$k-$v"))
    ).toSeq
    val satDf = sat(existing.map { case (hk, d, del, hd, rid, p) => (hk, d, del, hd, rid, p) }: _*)
      .repartition(16)
    // find the actual latest hot hash_diff so the staged batch can hit the
    // unchanged / changed / new cases deterministically
    val staged = (
      Seq.fill(50)(("hot", "hot-staged-hd", "hot-payload")) ++ // hot dup ×50 -> ONE insert
      Seq(("k1", "hd1-0", "p1-0"),                             // unchanged (k1 latest is hd1-1? depends) — keep generic
          ("k2", "changed-hd", "newp"),
          ("new", "new-hd", "newp"))
    ).toDF("src_hk", "grp_hashdiff", "payload").repartition(16)
    def run(salt: Int) = DvOps.satNewRows(
      staged, satDf, "src_hk", "grp_hashdiff",
      Seq("payload" -> "payload"), "hk", ctx, salt = salt)
      .select("hk", "hash_diff", "payload", "del_flag", "run_id")
      .as[(String, String, String, Boolean, Long)].collect().sorted
    val unsalted = run(1)
    assert(unsalted.nonEmpty)
    // full-sample histogram → the hot key is detected and the salted
    // hot-split path actually runs
    spark.conf.set("spark.graft.skewGuard.sampleFraction", "1.0")
    val salted =
      try run(8)
      finally spark.conf.unset("spark.graft.skewGuard.sampleFraction")
    assert(salted.toSeq == unsalted.toSeq,
      s"salted(8) diverged from unsalted: ${salted.toSeq.diff(unsalted.toSeq)} vs ${unsalted.toSeq.diff(salted.toSeq)}")
    // duplicate staged rows collapsed to one insert for the hot key
    assert(salted.count(_._1 == "hot") == 1)
    // under-sized sample → empty hot set → unsalted-shape fallback, same rows
    spark.conf.set("spark.graft.skewGuard.sampleFraction", "0.001")
    val fallback =
      try run(8)
      finally spark.conf.unset("spark.graft.skewGuard.sampleFraction")
    assert(fallback.toSeq == unsalted.toSeq)
  }

  test("skewGuard=auto engages the hot-key split at default salt, same rows") {
    // Same hot-key frame shape as the explicit-salt test, but the caller
    // leaves salt at its default — the conf alone must (a) route through
    // the salted branch (visible as __salt in the analyzed plan), (b)
    // return the exact unsalted row set, and (c) stay on the plain shape
    // when the guard is off.
    val existing = sat((
      (for (v <- 0 until 300) yield
        ("hot", f"2026-01-${1 + v % 27}%02d 00:00:00", false, s"hd$v", (v % 3).toLong, s"p$v")) ++
      (for (k <- 0 until 40; v <- 0 to k % 4) yield
        (s"k$k", f"2026-01-${1 + v}%02d 00:00:00", false, s"hd$k-$v", v.toLong, s"p$k-$v"))
    ): _*).repartition(16)
    val staged = (
      Seq.fill(50)(("hot", "hot-staged-hd", "hot-payload")) ++
      Seq(("k2", "changed-hd", "newp"), ("new", "new-hd", "newp"))
    ).toDF("src_hk", "grp_hashdiff", "payload").repartition(16)
    def run() = DvOps.satNewRows(
      staged, existing, "src_hk", "grp_hashdiff",
      Seq("payload" -> "payload"), "hk", ctx) // salt left at default
    val off = run()
    assert(!off.queryExecution.analyzed.toString.contains("__salt"))
    val offRows = off.select("hk", "hash_diff", "payload")
      .as[(String, String, String)].collect().sorted.toSeq
    spark.conf.set("spark.graft.skewGuard", "auto")
    spark.conf.set("spark.graft.skewGuard.sampleFraction", "1.0")
    try {
      // size-GATED auto (tiny frames, default 256 MiB floor): plain shape,
      // no histogram — this is what the bench-scale defaults exercise
      assert(!run().queryExecution.analyzed.toString.contains("__salt"))
      spark.conf.set(graft.core.Confs.MinBytesKey, "0") // force past the gate
      val auto = run()
      assert(auto.queryExecution.analyzed.toString.contains("__salt"),
        "auto + hot key past the gate must engage the salted branch")
      val autoRows = auto.select("hk", "hash_diff", "payload")
        .as[(String, String, String)].collect().sorted.toSeq
      assert(autoRows == offRows)
      // malformed fan-out width fails naming the key (even when gated)
      spark.conf.unset(graft.core.Confs.MinBytesKey)
      spark.conf.set(graft.core.Confs.SaltKey, "1")
      val e = intercept[IllegalArgumentException](run())
      assert(e.getMessage.contains(graft.core.Confs.SaltKey))
    } finally {
      spark.conf.unset("spark.graft.skewGuard")
      spark.conf.unset("spark.graft.skewGuard.sampleFraction")
      spark.conf.unset(graft.core.Confs.MinBytesKey)
      spark.conf.unset(graft.core.Confs.SaltKey)
    }
  }

  test("hotKeyPredicate treats a null key as a real hot-set member") {
    // Column.isin yields NULL (falsy under when()) for a null input — the
    // predicate must return real booleans so a hot NULL sentinel key
    // actually fans out instead of silently staying in cell 0.
    val df = Seq(Some("a"), Some("b"), None).toDF("k")
    def marks(hot: Seq[Any]): Map[Option[String], Boolean] =
      df.select(col("k"), when(DvOps.hotKeyPredicate(hot, col("k")), true).otherwise(false).as("h"))
        .as[(Option[String], Boolean)].collect().toMap
    // null named hot alongside a non-null key
    assert(marks(Seq("a", null)) == Map(Some("a") -> true, Some("b") -> false, None -> true))
    // null the ONLY hot key
    assert(marks(Seq(null)) == Map(Some("a") -> false, Some("b") -> false, None -> true))
    // null not hot: null row must be plain false, not NULL-falsy
    assert(marks(Seq("b")) == Map(Some("a") -> false, Some("b") -> true, None -> false))
  }

  test("salted delta load matches unsalted when the hot key is NULL") {
    // The degenerate null sentinel key carries most version rows and a
    // duplicated staged batch; with a full-sample histogram the null key
    // is named hot and the split path must (a) run — hotKeyPredicate makes
    // isin null-safe — and (b) return the exact unsalted row set.
    val nullK: String = null
    val existing = sat((
      (for (v <- 0 until 200) yield
        (nullK, f"2026-01-${1 + v % 27}%02d 00:00:00", v % 7 == 0, s"nhd$v", (v % 3).toLong, s"np$v")) ++
      (for (k <- 0 until 30; v <- 0 to k % 3) yield
        (s"k$k", f"2026-01-${1 + v}%02d 00:00:00", false, s"hd$k-$v", v.toLong, s"p$k-$v"))
    ): _*).repartition(16)
    val staged = (
      Seq.fill(40)((nullK, "null-staged-hd", "null-payload")) ++
      Seq(("k1", "changed-hd", "newp"), ("new", "new-hd", "newp"))
    ).toDF("src_hk", "grp_hashdiff", "payload").repartition(8)
    def run(salt: Int) = DvOps.satNewRows(
      staged, existing, "src_hk", "grp_hashdiff",
      Seq("payload" -> "payload"), "hk", ctx, salt = salt)
      .select("hk", "hash_diff", "payload", "del_flag")
      .as[(Option[String], String, String, Boolean)].collect().sortBy(_.toString).toSeq
    val unsalted = run(1)
    assert(unsalted.nonEmpty)
    spark.conf.set("spark.graft.skewGuard.sampleFraction", "1.0")
    val salted =
      try run(8)
      finally spark.conf.unset("spark.graft.skewGuard.sampleFraction")
    assert(salted == unsalted,
      s"null-hot salted(8) diverged: ${salted.diff(unsalted)} vs ${unsalted.diff(salted)}")
    // the duplicated null-key staged rows still collapse to one insert
    assert(salted.count(_._1.isEmpty) == 1)
  }

  test("salted delta load matches unsalted across randomized batches and salts") {
    // Deterministic pseudo-random sweep: varying key counts, version
    // depths, hot-key shares, staged duplication, and salt values — the
    // hot-split must return the exact unsalted row set every time,
    // whatever the sampled hot set turns out to be (including empty).
    val rng = new scala.util.Random(4242L)
    spark.conf.set("spark.graft.skewGuard.sampleFraction", "1.0")
    try {
      for (round <- 0 until 4) {
        val nKeys = 5 + rng.nextInt(40)
        val hotVersions = 20 + rng.nextInt(120)
        val existing = sat((
          (for (v <- 0 until hotVersions) yield
            ("hotk", f"2026-01-${1 + v % 27}%02d 00:00:00", rng.nextBoolean() && v != hotVersions - 1,
              s"hd-h$v", (v % 4).toLong, s"hp$v")) ++
          (for (k <- 0 until nKeys; v <- 0 to rng.nextInt(3)) yield
            (s"k$k", f"2026-01-${1 + v}%02d 00:00:00", false, s"hd$k-$v", v.toLong, s"p$k-$v"))
        ): _*).repartition(1 + rng.nextInt(16))
        val staged = (
          Seq.fill(1 + rng.nextInt(30))(("hotk", s"staged-h$round", "hp")) ++
          (for (k <- 0 until nKeys; if rng.nextBoolean()) yield
            (s"k$k", if (rng.nextBoolean()) s"hd$k-0" else s"new-$k-$round", "np"))
        ).toDF("src_hk", "grp_hashdiff", "payload").repartition(1 + rng.nextInt(8))
        def run(salt: Int) = DvOps.satNewRows(
          staged, existing, "src_hk", "grp_hashdiff",
          Seq("payload" -> "payload"), "hk", ctx, salt = salt)
          .select("hk", "hash_diff", "payload", "del_flag")
          .as[(String, String, String, Boolean)].collect().sorted.toSeq
        val base = run(1)
        val salt = 2 + rng.nextInt(15)
        assert(run(salt) == base, s"round $round salt $salt diverged")
      }
    } finally spark.conf.unset("spark.graft.skewGuard.sampleFraction")
  }

  test("satDeleteRows emits del rows for latest-active keys absent from staging") {
    val existing = sat(
      ("k1", "2026-01-01 00:00:00", false, "h1", 1L, "p1"), // staged -> no delete
      ("k2", "2026-01-01 00:00:00", false, "h2", 1L, "p2"), // absent -> delete
      ("k3", "2026-01-01 00:00:00", true, "h3", 1L, "p3"))  // already deleted -> skip
    val staged = Seq(("k1", "x")).toDF("src_hk", "ignored")
    val out = DvOps.satDeleteRows(staged, existing, "src_hk", Seq("payload"), "hk", ctx)
    val rows = out.select("hk", "del_flag", "hash_diff", "payload")
      .as[(String, Boolean, String, String)].collect()
    assert(rows.toSeq == Seq(("k2", true, "h2", "p2"))) // payload carried forward
  }

  test("salted satDeleteRows matches unsalted on a hot-key batch") {
    // Hot key with a deep history, ABSENT from staging — its rows must
    // survive the salted (key, cell) anti-join in every cell and still
    // collapse to one delete row; a staged hot key ("hk-staged") must be
    // dropped whole even though its rows fan out; null keys never match an
    // anti-join either way.
    val nullK: String = null
    val existing = sat((
      (for (v <- 0 until 150) yield
        ("hotgone", f"2026-01-${1 + v % 27}%02d 00:00:00", false, s"hd$v", (v % 5).toLong, s"p$v")) ++
      (for (v <- 0 until 80) yield
        ("hk-staged", f"2026-01-${1 + v % 27}%02d 00:00:00", false, s"sd$v", (v % 5).toLong, s"sp$v")) ++
      (for (v <- 0 until 40) yield
        (nullK, f"2026-01-${1 + v % 27}%02d 00:00:00", v == 0, s"nd$v", (v % 5).toLong, s"np$v")) ++
      (for (k <- 0 until 20) yield
        (s"k$k", "2026-01-01 00:00:00", k % 4 == 0, s"kd$k", 1L, s"kp$k"))
    ): _*).repartition(16)
    val staged = (Seq(("hk-staged", "x")) ++ (0 until 20 by 2).map(k => (s"k$k", "x")))
      .toDF("src_hk", "ignored").repartition(4)
    def run(salt: Int) = DvOps.satDeleteRows(
      staged, existing, "src_hk", Seq("payload"), "hk", ctx, salt = salt)
      .select("hk", "del_flag", "hash_diff", "payload")
      .as[(Option[String], Boolean, String, String)].collect().sortBy(_.toString).toSeq
    val unsalted = run(1)
    assert(unsalted.exists(_._1.contains("hotgone")), "hot absent key must emit a delete")
    assert(!unsalted.exists(_._1.contains("hk-staged")), "staged key must not emit")
    spark.conf.set("spark.graft.skewGuard.sampleFraction", "1.0")
    val salted =
      try run(8)
      finally spark.conf.unset("spark.graft.skewGuard.sampleFraction")
    assert(salted == unsalted,
      s"salted(8) delete diverged: ${salted.diff(unsalted)} vs ${unsalted.diff(salted)}")
  }

  test("asOfRows returns the latest row at or before the cutoff") {
    val s = sat(
      ("k1", "2026-01-01 00:00:00", false, "h1", 1L, "v1"),
      ("k1", "2026-02-01 00:00:00", false, "h2", 2L, "v2"),
      ("k2", "2026-03-01 00:00:00", false, "h3", 1L, "late"))
    val out = DvOps.asOfRows(s, "hk", lit(ts("2026-01-15 00:00:00")))
      .select("hk", "payload").as[(String, String)].collect().toMap
    assert(out == Map("k1" -> "v1")) // k2 has nothing yet at the cutoff
  }

  test("pitTable snapshots per-sat active versions as of a timestamp") {
    val keys = Seq("k1", "k2", "k3").toDF("hk")
    val satA = sat(
      ("k1", "2026-01-01 00:00:00", false, "h1", 1L, "a1"),
      ("k1", "2026-02-01 00:00:00", false, "h2", 2L, "a2"), // after cutoff
      ("k2", "2026-01-05 00:00:00", false, "h3", 1L, "a3"))
    val satB = sat(
      ("k2", "2026-01-10 00:00:00", false, "h4", 1L, "b1"))
    val pit = DvOps.pitTable(keys, "hk", Seq("sat_a" -> satA, "sat_b" -> satB),
      lit(ts("2026-01-15 00:00:00")))
    assert(pit.columns.toSeq == Seq("hk", "sat_a_load_dts", "sat_b_load_dts"))
    val rows = pit.collect().map(r => (r.getString(0), Option(r.getTimestamp(1)), Option(r.getTimestamp(2)))).sortBy(_._1)
    assert(rows.toSeq == Seq(
      ("k1", Some(ts("2026-01-01 00:00:00")), None),          // satA v1 active, no satB yet
      ("k2", Some(ts("2026-01-05 00:00:00")), Some(ts("2026-01-10 00:00:00"))),
      ("k3", None, None)))                                    // hub key with no sat rows
  }

  test("newHubRows anti-joins existing keys and dedups the staged batch") {
    val hv = Seq((1L, "hk1"), (1L, "hk1"), (2L, "hk2"), (3L, "hk3"))
      .toDF("id", "g_hk")
    val existing = Seq("hk2").toDF("t_hk")
    val out = DvOps.newHubRows(hv, existing, "g", Seq("id" -> "id_bk"), "t_hk", ctx)
    val got = out.select("t_hk", "id_bk").as[(String, Long)].collect().sortBy(_._1)
    assert(got.toSeq == Seq(("hk1", 1L), ("hk3", 3L)))
  }

  test("newHubRows under two load contexts compiles to the same whole-stage code") {
    // A flow's run_id and load_dts are per-run values: inlined as literals
    // they made every run's plan new Java source, so no run reused the
    // compiled classes of the last. Bound by reference, only the rows differ.
    import org.apache.spark.sql.execution.debug.codegenStringSeq
    val hv = Seq((1L, "hk1"), (2L, "hk2"), (3L, "hk3")).toDF("id", "g_hk")
    val existing = Seq("hk2").toDF("t_hk")
    def run(c: LoadContext): (Seq[String], Set[(Timestamp, Long)]) = {
      val out = DvOps.newHubRows(hv, existing, "g", Seq("id" -> "id_bk"), "t_hk", c)
      // collected first: AQE plans its codegen stages as it runs them
      val rows = out.collect().map(r => (r.getAs[Timestamp]("load_dts"), r.getAs[Long]("run_id"))).toSet
      (codegenStringSeq(out.queryExecution.executedPlan).map(_._2).sorted, rows)
    }
    val (code1, rows1) = run(ctx)
    val (code2, rows2) = run(LoadContext(ts("2026-03-04 05:06:07"), "test", 8L))
    assert(code1.nonEmpty)
    assert(code1 == code2)
    assert(rows1 == Set(ts("2026-01-02 00:00:00") -> 7L))
    assert(rows2 == Set(ts("2026-03-04 05:06:07") -> 8L))
  }

  test("run constant: equals lit on the codegen and the interpreted path, Long and Timestamp") {
    val values = Seq[Any](7L, Long.MinValue, ts("2026-01-02 03:04:05.123456"))
    for ((wholeStage, mode) <- Seq("true" -> "CODEGEN_ONLY", "false" -> "NO_CODEGEN")) {
      spark.conf.set("spark.sql.codegen.wholeStage", wholeStage)
      spark.conf.set("spark.sql.codegen.factoryMode", mode)
      try values.foreach { v =>
        val df = spark.range(0, 4, 1, 2)
          .select(graft.functions.RunConstant.column(v).as("c"), lit(v).as("l"))
        assert(df.schema("c").dataType == df.schema("l").dataType)
        assert(!df.schema("c").nullable)
        val rows = df.collect()
        assert(rows.length == 4)
        assert(rows.forall(r => r.get(0) == v && r.get(1) == v), s"$mode: ${rows.toSeq}")
      } finally {
        spark.conf.unset("spark.sql.codegen.wholeStage")
        spark.conf.unset("spark.sql.codegen.factoryMode")
      }
    }
  }
}
