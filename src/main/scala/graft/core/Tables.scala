package graft.core

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.expr

/** Parquet table loading for the TPC-H-ish test layout: `{dir}/{name}.parquet`. */
object Tables {
  def load(spark: SparkSession, dir: String, name: String): DataFrame =
    spark.read.parquet(s"$dir/$name.parquet")

  /** Fan a narrow input out to the session's parallelism. The test parquet
    * has ONE row group per table, so scans (and the map-side partial
    * aggregation fused into them) are single-task no matter what
    * maxPartitionBytes says; one cheap row shuffle buys full-core partial
    * aggregation. Guarded: at production scale inputs have many splits and
    * this is a no-op (no extra exchange). */
  def spread(df: DataFrame): DataFrame = {
    val target = df.sparkSession.sparkContext.defaultParallelism
    // inputFiles (driver-side file listing) instead of df.rdd.getNumPartitions:
    // the latter materializes the physical RDD eagerly on the driver. File
    // count under-approximates split count for large multi-row-group files,
    // which is exactly the no-op case we want at production scale.
    if (df.inputFiles.length < target) df.repartition(target) else df
  }

  def loadSpread(spark: SparkSession, dir: String, name: String): DataFrame =
    spread(load(spark, dir, name))

  /** Repartition by `keys` UNCONDITIONALLY — for a keyed aggregation over
    * an input whose file layout is not clustered by the key (ad-hoc scans;
    * the scaled bench corpora are written round-robin). On such layouts the
    * classic partial→exchange→final shape buys nothing: map-side combine
    * collapses ~nothing (each task sees almost only distinct keys), so the
    * exchange ships ≈ the raw rows anyway — while the partial stage still
    * pays a full sort (SortAggregate) or blows past a hash map's fallback
    * threshold. One raw-row shuffle up front IS the aggregation's
    * distribution: the agg then runs partition-local with per-task key
    * cardinality = |keys|/partitions, hash-based end to end. Inputs that
    * ARE clustered by the key (bucketed lake tables) should not use this —
    * their natural layout makes the partial stage combine.
    *
    * The partition count is EXPLICIT rather than AQE-sized. AQE's
    * parallelism-first coalescing targets one WAVE (partition bytes =
    * total/cores), which is the right floor for IO-bound reads but exactly
    * wrong for the CPU-bound keyed aggregations/sorts that sit on top of
    * this exchange: one wave makes every reduce task wall-sized (the sf10
    * stress run put 52 MB / 13 s in each of 32 single-wave tasks on
    * dv_sat_current), so one slow core drags the whole stage and the
    * per-task hash map holds keys/cores entries. Multiple waves bound
    * straggler damage to a wave, shrink the per-task state, and on a real
    * cluster scale with executor count — the standard 2-4 tasks-per-core
    * sizing.
    *
    * The wave count follows DATA, clamped to [1, ClusterWaves] waves: a
    * small input (sf0.1-sized — the whole table a few MB per core) pays
    * ~2 ms scheduling per task, so 4 waves of near-empty tasks is pure
    * floor cost (+0.3 s measured on events_sessions at sf0.1); a large
    * input wants the full ClusterWaves for the straggler bound. The
    * transition uses Catalyst's size estimate (file bytes scaled by
    * projection width) against ClusterTaskBytes per task.
    *
    * The wave cap YIELDS to a per-task memory ceiling (r18): the keyed
    * aggregation on top of this exchange holds a hash map proportional to
    * its partition's bytes, and per-core memory is a deployment CONSTANT —
    * it does not grow with data the way the wave-sized partition does. The
    * r18 sf30 stress falsified the old "the wave cap binds first at scale"
    * claim on a fixed-core box: 4 waves × 32 cores put ~40 MB of shuffled
    * satellite rows (≈ 300 MB of map state) in every task and
    * dv_sat_current spilled 7.6 GB (`bench/r18_stress_sf30.jsonl`, first
    * run). Above `spark.graft.cluster.maxTaskBytes` of KNOWN LEAF input
    * per task (default 4 MB ≈ 25-40 MB shuffled ≈ low-hundreds MB of map
    * state — sized to this host's 16 GiB / 32-core stress posture;
    * deployments with more memory per core raise it) the partition count
    * keeps growing past the wave cap: more waves of scheduling is noise
    * next to external-sort spill. Known leaf bytes, never the arithmetic
    * estimate — sentinel/inflated estimates keep the wave cap (see
    * [[clusterParts]]). sf10 and below sit under the ceiling, so measured
    * plans there are unchanged. */
  val ClusterWaves = 4
  // Per-task byte target for the TRANSITION region only (both ends are
  // wave-clamped). 512 KB of estimated (compressed, projection-scaled)
  // input ≈ 2-4 MB of in-memory rows — enough CPU work per task that the
  // ~2 ms scheduling cost is noise. On 32 cores the first wave splits at a
  // ~16 MB estimate and the ClusterWaves cap binds from ~64 MB up.
  val ClusterTaskBytes: Long = 1L << 19

  /** Optimized-plan size estimate (compressed bytes for parquet scans) —
    * the same number [[clusterParts]] sizes exchanges from. */
  def estBytes(df: DataFrame): BigInt = df.queryExecution.optimizedPlan.stats.sizeInBytes

  /** Summed LEAF bytes of the plan, or None when any leaf's statistics are
    * the `spark.sql.defaultSizeInBytes` sentinel (a streaming micro-batch's
    * LogicalRDD, an un-analyzed in-memory relation) — i.e. the plan's true
    * input volume, where [[estBytes]] is its arithmetic ESTIMATE. Two
    * failure modes of gating on the estimate, both caught by the r15 gated
    * A/B (`bench/r15{a..d}_*`):
    *
    *  - sentinel leaves: a LogicalRDD "is" Long.MaxValue bytes, so every
    *    streaming micro-batch maxed the gate and `skewGuard=auto`
    *    re-sampled the satellite per batch (+0.5 s/batch on
    *    `dv_stream_sat`). Projection ratios scale the sentinel by an
    *    arbitrary factor, so no threshold on the ESTIMATE separates
    *    sentinel descendants from real sizes — leaf inspection does.
    *  - join inflation: join stats multiply, so a composition of two
    *    small scans can "exceed" any gate (`dv_flow_hub`'s per-entity
    *    current-view, +0.6 s/flow) while its actual input is a few MB.
    *
    * Skew pileup is bounded by the bytes that physically exist, which is
    * exactly the summed leaf sizes. Unknown (None) must never engage a
    * histogram: a side whose size cannot be known cannot justify a
    * sampling job, and wherever the guard matters (file-backed satellite
    * history) leaf stats are real.
    *
    * Sentinel detection is EQUALITY, not >=: stats-less leaves report
    * exactly `defaultSizeInBytes` (un-scaled at the leaf — projection
    * ratios apply above it), while a real file scan reports its actual
    * listing bytes. A >= comparison would mis-classify every scan larger
    * than the default as unknown in deployments that LOWER
    * defaultSizeInBytes (a common broadcast tuning), silently disabling
    * the guard exactly where it matters. A genuine scan whose bytes land
    * on the sentinel value to the byte is possible in principle and
    * degrades to a skipped histogram — a perf-only miss, never wrong
    * rows. */
  def estBytesKnown(df: DataFrame): Option[BigInt] = {
    val default = BigInt(df.sparkSession.sessionState.conf.defaultSizeInBytes)
    val sizes = df.queryExecution.optimizedPlan.collectLeaves().map(_.stats.sizeInBytes)
    if (sizes.exists(_ == default)) None else Some(sizes.sum)
  }

  /** Data-scaled partition count for [[clusterBy]] — exposed so callers that
    * need TWO exchanges to land co-partitioned (e.g. DvOps.satNewRows's
    * probe/staged ShuffledHashJoin) can size the join ONCE from both sides'
    * estimates. Independently-sized sides diverge in the transition region
    * (estimates between cores×ClusterTaskBytes and ClusterWaves×cores×
    * ClusterTaskBytes), and EnsureRequirements then re-exchanges one side —
    * invisible at sf0.001 where both clamp to the floor. */
  def clusterParts(df: DataFrame): Int = {
    val cores = df.sparkSession.sparkContext.defaultParallelism
    val est = estBytes(df)
    // Upper clamp = the wave cap OR the per-task memory ceiling, whichever
    // allows more partitions (ClusterWaves doc, r18): the wave bound keeps
    // small/medium inputs at [1, 4] waves; past it the ceiling takes over
    // so per-task aggregation state stays deployment-constant. The ceiling
    // is computed from KNOWN LEAF bytes, never the arithmetic estimate: a
    // streaming micro-batch's sentinel LogicalRDD stats (and join-inflated
    // estimates) would otherwise blow the exchange to the sanity cap —
    // the same failure mode the r15 skew-guard gate hit, and it DID recur
    // on the first cut of this change (a streaming satellite test's
    // exchange exploded to 14k+ tasks whose closures took minutes to
    // deserialize). Unknown leaves keep the wave cap — exactly the pre-r18
    // behavior. The 1 << 16 sanity cap bounds even genuine huge inputs;
    // 64k partitions is already far past any sensible single-exchange
    // width.
    val ceiling = estBytesKnown(df)
      .map(_ / Confs.clusterMaxTaskBytes(df.sparkSession.conf))
      .getOrElse(BigInt(0))
    val upper = BigInt(ClusterWaves.toLong * cores).max(ceiling).min(BigInt(1 << 16))
    (est / ClusterTaskBytes).min(upper).max(BigInt(cores)).toInt
  }

  def clusterBy(df: DataFrame, keys: String*): DataFrame =
    clusterBy(df, clusterParts(df), keys: _*)

  /** Explicit-count variant: callers co-partitioning multiple exchanges pass
    * one shared count (typically `max` of the sides' [[clusterParts]]). */
  def clusterBy(df: DataFrame, parts: Int, keys: String*): DataFrame =
    df.repartition(parts, keys.map(df.col): _*)

  /** [[clusterBy]] with a hostile-key-distribution escape hatch. The
    * clusterBy-then-aggregate shape deliberately skips the map-side partial
    * (right on uniform keys — see the clusterBy doc), which is exactly what
    * makes it skew-exposed: a degenerate key (null/default sentinel) holding
    * ~10% of all rows lands its ENTIRE history in one task (SkewBench sf10:
    * 22.6 s max task vs 3.4 s stage median + 318-334 MB spill — BASELINE.md
    * vault-skew table, raw sessions bench/r13_skew_vault.jsonl). Skipping
    * the pre-clustering restores Spark's partial-before-exchange
    * aggregation, which collapses the hot key to one row per map task —
    * skew-immune, at the price of the partial pass clusterBy exists to
    * avoid.
    *
    * [[SkewGuard.hotKeys]] decides: clustering is skipped when it names
    * any hot key, so `off`, sub-gate inputs and uniform keys keep the
    * exact [[clusterBy]] plan. Rows are identical either way. */
  def clusterByGuarded(df: DataFrame, key: String): DataFrame =
    if (SkewGuard.hotKeys(Seq(df), key, s"clusterByGuarded($key)").nonEmpty) df
    else clusterBy(df, key)

  /** The `events` table carries a TIMESTAMP(NANOS) parquet column, which Spark
    * rejects outright ([PARQUET_TYPE_ILLEGAL]). Read nanos as raw longs and
    * convert to a microsecond timestamp with exact integer arithmetic
    * (`div 1000`, not double division — ns epochs exceed double's 53-bit
    * mantissa). The test data has zero sub-microsecond components, so the
    * conversion is lossless and oracle-identical. */
  def loadEvents(spark: SparkSession, dir: String): DataFrame = {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    normalizeTs(spark.read.parquet(s"$dir/events.parquet"))
  }

  /** Normalize the events `ts` column across driver data generations:
    *  - TIMESTAMP(NANOS) arrives as a raw long under nanosAsLong → exact
    *    integer `div 1000` to micros (see [[loadEvents]] doc above);
    *  - plain micros without UTC adjustment (2026-08 driver regeneration)
    *    arrives as TIMESTAMP_NTZ → cast to the session-zone timestamp. The
    *    session is pinned to UTC everywhere (Bench/Verify/tests), so the
    *    cast maps wall-clock to the same instant and typed consumers
    *    (unix_millis, watermarks, window()) see one type;
    *  - already-LTZ micros (scaled bench copies written by Spark) pass
    *    through untouched. */
  def normalizeTs(df: DataFrame): DataFrame =
    df.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType =>
        df.withColumn("ts", expr("timestamp_micros(ts div 1000)"))
      case org.apache.spark.sql.types.TimestampNTZType =>
        df.withColumn("ts", expr("cast(ts as timestamp)"))
      case _ => df
    }
}
