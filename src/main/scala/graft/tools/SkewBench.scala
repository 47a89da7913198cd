package graft.tools

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.functions.Joins

/** Skew-join validation bench (BASELINE.md): joins a deliberately skewed
  * probe (50% of lineitem rows remapped to ONE hot orderkey, deterministic)
  * against a medium orders slice, three ways:
  *
  *   1. plain shuffle join, AQE ON  — AQE's skewedJoin should split the hot
  *      partition at runtime;
  *   2. plain shuffle join, AQE OFF — the unmitigated baseline: one task
  *      owns the hot key;
  *   3. [[graft.functions.Joins.saltedJoin]] (factor 8), AQE OFF — the
  *      explicit mitigation for engines/paths where AQE can't help.
  *
  * Broadcast is disabled throughout — at real scale the build side doesn't
  * broadcast; that's exactly when skew hurts. Prints one JSON line.
  */
object SkewBench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/tmp/sf1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    // the engine's standing session tuning (Sessions.localBuilder): the
    // bv-view SQL rows below resolve graft_latest through the extension,
    // and the typed aggregate needs the raised ObjectHashAggregate
    // fallback threshold to measure the shape production sessions run
    val spark = graft.core.Sessions.localBuilder(cpus, cpus)
      .config("spark.sql.autoBroadcastJoinThreshold", "-1")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    val hotKey = 1L
    // Half the probe rows land on one orderkey — deterministic, no rand().
    def probe: DataFrame = spark.read.parquet(s"$sfDir/lineitem.parquet")
      .select(col("l_orderkey"), col("l_extendedprice"), col("l_linenumber"))
      .withColumn(
        "l_orderkey",
        when(pmod(xxhash64(col("l_orderkey"), col("l_linenumber")), lit(10)) < 5, lit(hotKey))
          .otherwise(col("l_orderkey")))
    // Medium build side (~1% of orders, hot key included) — the saltedJoin
    // cost model: too big to broadcast comfortably, cheap to replicate ×8.
    def build: DataFrame = spark.read.parquet(s"$sfDir/orders.parquet")
      .filter(col("o_orderkey") % 100 === 1)
      .select(col("o_orderkey").as("l_orderkey"), col("o_totalprice"))

    def time(label: String, aqe: Boolean)(mk: => DataFrame): (String, Double) = {
      spark.conf.set("spark.sql.adaptive.enabled", aqe)
      val t0 = System.nanoTime()
      mk.write.format("noop").mode("overwrite").save()
      label -> (System.nanoTime() - t0) / 1e9
    }

    // warmup scan
    probe.write.format("noop").mode("overwrite").save()
    build.write.format("noop").mode("overwrite").save()

    val results = Seq(
      time("plain_aqe", aqe = true)(probe.join(build, "l_orderkey")),
      time("plain_noaqe", aqe = false)(probe.join(build, "l_orderkey")),
      time("salted_noaqe", aqe = false)(Joins.saltedJoin(probe, build, Seq("l_orderkey"), 8)),
      // AQE skew splitting only fires above skewedPartitionThresholdInBytes
      // (256 MB default — sized for real clusters). Scale the thresholds to
      // this dataset to demonstrate the runtime split engaging, as it would
      // untouched at 100 TB partition sizes.
      {
        spark.conf.set("spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes", "8MB")
        spark.conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "4MB")
        val r = time("plain_aqe_scaled_thresholds", aqe = true)(probe.join(build, "l_orderkey"))
        spark.conf.set("spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes", "256MB")
        spark.conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "64MB")
        r
      }
    )
    val js = results.map { case (k, v) => s""""$k":$v""" }.mkString(",")
    println(s"""{"bench":"skew_join","hot_frac":0.5,"salt_factor":8,$js,"sf":"$sfDir"}""")

    // ------------------------------------------------- vault-load skew (r12)
    // The satellite family under a deliberately hot hash key (10% of all
    // version rows on ONE key): validates clusterBy + graft_latest and the
    // satNewRows probe/staged join when the key distribution is hostile.
    // The straggler bound reported is max task vs the same stage's median.
    spark.conf.set("spark.sql.adaptive.enabled", true)
    val rec = new StageRecorder(spark.sparkContext)
    // 10% of lineitem version rows remapped to one hot natural key —
    // deterministic, same row-hash trick as the join section.
    def skewedSat: DataFrame = spark.read.parquet(s"$sfDir/lineitem.parquet")
      .select(
        when(pmod(xxhash64(col("l_orderkey"), col("l_linenumber")), lit(10)) === 0, lit(hotKey))
          .otherwise(col("l_orderkey")).as("__nk"),
        col("l_shipdate").as("load_dts"),
        md5(concat_ws("|", col("l_partkey"), col("l_linenumber"))).as("hash_diff"),
        col("l_linenumber").cast("long").as("run_id"),
        col("l_partkey"), col("l_suppkey"), col("l_quantity"))

    def runSkew(label: String)(mk: => DataFrame): String = {
      rec.reset()
      val t0 = System.nanoTime()
      mk.write.format("noop").mode("overwrite").save()
      val sec = (System.nanoTime() - t0) / 1e9
      // The straggler stage = the one holding the slowest single task,
      // compared against ITS OWN median. Attribution is restricted to
      // SHUFFLE-READING stages (key skew can only concentrate work at or
      // above an exchange read) — under co-tenant storms a uniformly-
      // slowed scan otherwise wins the max-task pick and reports
      // max ≈ median, masking the skew signal (observed r13; raw sessions
      // in bench/r13_skew_vault.jsonl). Falls back to all stages when
      // nothing read a shuffle.
      val stages = rec.stages.filter(_.tasks > 0)
      val reading = stages.filter(_.shuffleReadBytes > 0L)
      val worst = (if (reading.nonEmpty) reading else stages).maxByOption(_.maxTaskMs)
      val (maxMs, medMs) = worst.map(w => (w.maxTaskMs, w.medianTaskMs)).getOrElse((0L, 0L))
      val spill = stages.map(_.diskSpillBytes).sum
      val row = s""""$label":{"sec":${f"$sec%.1f"},"max_task_s":${f"${maxMs / 1000.0}%.2f"},""" +
        s""""stage_median_task_s":${f"${medMs / 1000.0}%.2f"},"spill_disk_mb":${f"${StageRecorder.mb(spill)}%.1f"}}"""
      println(s"[skew] $row")
      row
    }

    def satStaged(sat: DataFrame): DataFrame = sat.select(col("__nk"), col("hash_diff"),
      col("l_partkey"), col("l_suppkey"), col("l_quantity"))
    def satExisting(sat: DataFrame): DataFrame = sat.filter(col("load_dts") < lit("1996-01-01"))
      .withColumn("del_flag", lit(false))

    val sat = skewedSat
    // Since r15 the session DEFAULT is skewGuard=auto, which would silently
    // salt the "unguarded" contrast rows below (the sf10 inputs clear the
    // size gate). Pin `off` for the whole block — the guarded/salted rows
    // opt in explicitly, so every row measures exactly the shape it names.
    spark.conf.set("spark.graft.skewGuard", "off")
    val vaultRows = Seq(
      // the dv_sat_current shape: size-scaled key clustering, then the
      // hash-based latest-row aggregate runs partition-local — the hot
      // key's whole history lands in ONE task by construction
      // preferredShape="hash", EXPLICITLY: currentRows' default flipped to
      // "partial" in r21, so under auto this arm would silently measure
      // clusterBy + partial — neutralizing the A/B whose numbers (10.1 s
      // vs 83.9 s) Confs.latestShape cites (r21 ADVICE). Each arm must
      // measure exactly the shape its label names.
      runSkew("sat_current_clusterBy") {
        graft.dv.DvOps.currentRows(
          graft.core.Tables.clusterBy(sat, "__nk"), "__nk", preferredShape = "hash")
      },
      // the natural shape: declarative partial max(struct) BEFORE the
      // exchange collapses the hot key to one row per map task —
      // skew-immune, but pays the partial pass clusterBy exists to avoid
      // on uniform keys (currentRows' default preferred shape)
      runSkew("sat_current_partial") {
        graft.dv.DvOps.currentRows(sat, "__nk", preferredShape = "partial")
      },
      // the guarded production path under auto mode: the sampled key
      // histogram must detect the 10% hot key and skip the clustering —
      // wall/max-task should land on the partial row above (+ the sample)
      runSkew("sat_current_guarded_auto") {
        spark.conf.set("spark.graft.skewGuard", "auto")
        try graft.dv.DvOps.currentRows(graft.core.Tables.clusterByGuarded(sat, "__nk"), "__nk")
        // restore the block's explicit `off` (unset would fall back to the
        // r15 session default, which is auto)
        finally spark.conf.set("spark.graft.skewGuard", "off")
      },
      // the dv_sat_delta shape: co-partitioned probe/staged shuffle-hash
      // join keyed on the hot key
      runSkew("sat_delta_coClustered") {
        graft.dv.DvOps.satNewRows(
          satStaged(sat), satExisting(sat), hkSource = "__nk", hashdiffField = "hash_diff",
          fields = Seq("l_partkey" -> "l_partkey", "l_suppkey" -> "l_suppkey", "l_quantity" -> "l_quantity"),
          satHk = "__nk",
          ctx = graft.dv.LoadContext(java.sql.Timestamp.valueOf("2026-01-01 00:00:00"), "skew", 1L))
      },
      // same load with the two-level salted shape (DvOps.satNewRows salt):
      // hot key's probe history and staged distinct spread over 16 tasks
      runSkew("sat_delta_salted") {
        graft.dv.DvOps.satNewRows(
          satStaged(sat), satExisting(sat), hkSource = "__nk", hashdiffField = "hash_diff",
          fields = Seq("l_partkey" -> "l_partkey", "l_suppkey" -> "l_suppkey", "l_quantity" -> "l_quantity"),
          satHk = "__nk",
          ctx = graft.dv.LoadContext(java.sql.Timestamp.valueOf("2026-01-01 00:00:00"), "skew", 1L),
          salt = 16)
      },
      // the dv_sat_full shape: the anti-join shuffles the whole satellite on
      // the key, so the hot key's entire history lands in ONE join task, and
      // the latest-row aggregation fuses onto that stage. The hot key is
      // REMOVED from staging so it also survives into the aggregation — the
      // full worst case for the delete-detection path.
      runSkew("sat_delete_antiJoin") {
        graft.dv.DvOps.satDeleteRows(
          satStaged(sat).filter(col("__nk") =!= lit(hotKey)), satExisting(sat),
          hkSource = "__nk", fields = Seq("l_partkey", "l_suppkey", "l_quantity"),
          satHk = "__nk",
          ctx = graft.dv.LoadContext(java.sql.Timestamp.valueOf("2026-01-01 00:00:00"), "skew", 1L))
      },
      // same load with the salted anti-join (DvOps.satDeleteRows salt): hot
      // key's rows spread over 16 (key, cell) join tasks; the aggregation
      // above re-collapses via partial-before-exchange
      runSkew("sat_delete_salted") {
        graft.dv.DvOps.satDeleteRows(
          satStaged(sat).filter(col("__nk") =!= lit(hotKey)), satExisting(sat),
          hkSource = "__nk", fields = Seq("l_partkey", "l_suppkey", "l_quantity"),
          satHk = "__nk",
          ctx = graft.dv.LoadContext(java.sql.Timestamp.valueOf("2026-01-01 00:00:00"), "skew", 1L),
          salt = 16)
      }
    )
    println(s"""{"bench":"skew_vault","hot_frac":0.1,${vaultRows.mkString(",")},"sf":"$sfDir"}""")

    // ------------------------------------------- bv.<sat>_cv SQL surface (r21)
    // The qualified catalog view is PLAIN SQL text (Graft.registerBvCurrentView):
    // declarative max(struct(...)) — a two-phase SortAggregate whose MAP-SIDE
    // partial collapses each task to <= 1 row/key before the exchange, so a
    // hot key is collapse-bounded per task (skew-immune) and shuffle bytes
    // are minimal. The contrast row is the two-phase graft_latest HASH shape
    // (the r21 candidate rewrite, rejected by measurement): on this many-key
    // profile the per-task group count blows the ObjectHashAggregate
    // fallback threshold and it runs 5-10x slower (see bench/r21_bvprof_*).
    sat.createOrReplaceTempView("skew_sat")
    val bvCols = "`load_dts`, `run_id`, `hash_diff`, `l_partkey`, `l_suppkey`, `l_quantity`"
    def bvViewSql(aggFn: String): String =
      s"SELECT `__nk`, __r.`load_dts`, __r.`run_id`, __r.`hash_diff`, __r.`l_partkey`, " +
        s"__r.`l_suppkey`, __r.`l_quantity` FROM " +
        s"(SELECT `__nk`, $aggFn(struct($bvCols)) AS __r FROM skew_sat GROUP BY `__nk`) __t"
    val bvRows = Seq(
      // the production view shape: partial-collapse SortAggregate
      runSkew("bv_cv_sql_max_struct") { spark.sql(bvViewSql("max")) },
      // the rejected candidate: two-phase hash aggregate on natural input
      runSkew("bv_cv_sql_graft_latest") { spark.sql(bvViewSql("graft_latest")) }
    )
    println(s"""{"bench":"skew_bv_cv","hot_frac":0.1,${bvRows.mkString(",")},"sf":"$sfDir"}""")

    // --------------------------------------- hub/link/PIT-table skew (r16)
    // The shapes the r15 verdict left unproven. Hub/link loads are CLAIMED
    // structurally skew-safe: the staged side is distinct()ed before the
    // anti-join, and in any real hash view the business keys are FUNCTIONS
    // of the hash key (hk = hash(bks)), so the distinct's map-side partial
    // collapses a hot key's pileup to one row per map task before the
    // wire. Business keys here are derived from __nk accordingly. The
    // naive no-distinct contrast rows show what that collapse buys: they
    // ship every staged row of the hot key into ONE anti-join task.
    // pitTable's one-shuffle union-aggregate makes the same partial-
    // collapse claim for its per-(key, sat) max — including the fully
    // degenerate 100%-hot case. None of these shapes consult skewGuard
    // (no clusterBy anywhere in them): the bound is structural or it
    // isn't. skewGuard stays pinned `off` from the block above.
    // Scratch OUTSIDE the data dir (sfDir may be read-only or protected
    // test data); java.io.tmpdir keeps it on the same fast local disk class
    // the tmpfs-copied inputs use.
    val shm = sys.props("java.io.tmpdir").stripSuffix("/") +
      s"/graft_skew_vault_r16_${java.lang.Long.toHexString(System.nanoTime())}"
    def hubStaged: DataFrame = sat.select(
      col("__nk").as("cust_hk"),
      concat_ws("_", lit("bk"), col("__nk")).as("bk_src"))
    def linkStaged: DataFrame = sat.select(
      col("__nk").as("oc_hk"),
      col("__nk").as("leg1_src"),
      pmod(col("__nk"), lit(97)).as("leg2_src"))
    // existing sides (half the keys already loaded) + the PIT key set are
    // lake-like parquet tables, materialized OUTSIDE the timed region
    hubStaged.filter(pmod(xxhash64(col("cust_hk")), lit(2)) === 0)
      .select(col("cust_hk").as("hk")).distinct()
      .write.mode("overwrite").parquet(s"$shm/hub")
    linkStaged.filter(pmod(xxhash64(col("oc_hk")), lit(2)) === 0)
      .select(col("oc_hk").as("hk")).distinct()
      .write.mode("overwrite").parquet(s"$shm/link")
    sat.select(col("__nk")).distinct()
      .write.mode("overwrite").parquet(s"$shm/keys")
    val ctxSkew = graft.dv.LoadContext(
      java.sql.Timestamp.valueOf("2026-01-01 00:00:00"), "skew", 1L)
    val asOf = lit("1996-01-01").cast("date")
    val r16Rows = Seq(
      runSkew("hub_load_distinct_antiJoin") {
        graft.dv.DvOps.newHubRows(
          hubStaged, spark.read.parquet(s"$shm/hub"), "cust",
          Seq("bk_src" -> "bk"), "hk", ctxSkew)
      },
      runSkew("hub_load_naive_noDistinct") {
        hubStaged.select(col("cust_hk").as("hk"), col("bk_src"))
          .join(spark.read.parquet(s"$shm/hub"), Seq("hk"), "left_anti")
      },
      runSkew("link_load_distinct_antiJoin") {
        graft.dv.DvOps.newLinkRows(
          linkStaged, spark.read.parquet(s"$shm/link"), "oc",
          Seq("leg1_src" -> "leg1_hk", "leg2_src" -> "leg2_hk"), "hk", ctxSkew)
      },
      runSkew("pit_table_unionAgg") {
        graft.dv.DvOps.pitTable(
          spark.read.parquet(s"$shm/keys"), "__nk",
          Seq(
            "s1" -> sat.select(col("__nk"), col("load_dts")),
            "s2" -> sat.filter(col("l_suppkey") % 2 === 0)
              .select(col("__nk"), col("load_dts"))),
          asOf)
      },
      // fully degenerate: EVERY version row of both sats on ONE key — the
      // single-exchange claim must hold even here (map-side combine
      // collapses each map partition to <= |sats| rows before the wire)
      runSkew("pit_table_100pct_hot") {
        val allHot = sat.select(lit(hotKey).as("__nk"), col("load_dts"))
        graft.dv.DvOps.pitTable(
          spark.range(1).select(lit(hotKey).as("__nk")), "__nk",
          Seq("s1" -> allHot, "s2" -> allHot.filter(dayofmonth(col("load_dts")) <= 15)),
          asOf)
      }
    )
    println(s"""{"bench":"skew_vault_hub_pit","hot_frac":0.1,${r16Rows.mkString(",")},"sf":"$sfDir"}""")
    spark.stop()
  }
}
