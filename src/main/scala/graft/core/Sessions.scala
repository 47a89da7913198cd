package graft.core

import org.apache.spark.sql.SparkSession

/** THE shared session tuning for the entry-point mains (Bench, Verify,
  * the graft.tools mains): one definition, so a tuning fix verified by the
  * correctness gate is by construction the tuning the bench measures (the
  * bypassMergeThreshold fix below had to be pasted into both mains once —
  * that drift channel is closed). Each main adds only its own deltas on the
  * returned builder. */
object Sessions {

  /** Bench's session, which Prof profiles too: the standing tuning, AQE
    * exchange sizing, then `SPARK_GRAFT_EXTRA_CONF` (`k=v;k2=v2`, for ad-hoc
    * conf A/Bs without code edits). The sizing lets AQE SIZE each exchange
    * instead of pinning it to the core count: exchanges start at 16×parts
    * and coalesce down to ~parts when map output is small, but a ×100 input
    * keeps the width and each task's spill stays bounded. Without it,
    * 32-way shuffles at sf10 put ~4 GB in one sorter task and dedup_minhash
    * dies in spill — partition count must be a function of DATA, not
    * cluster size. */
  def benchSession(cpus: String, shuffleParts: String): SparkSession = {
    val spark = localBuilder(cpus, shuffleParts)
      .config("spark.sql.adaptive.coalescePartitions.initialPartitionNum",
        (shuffleParts.toInt * 16).toString)
      .getOrCreate()
    sys.env.get("SPARK_GRAFT_EXTRA_CONF").foreach(spec => applyConf(spark, parseConf(spec)))
    spark
  }

  /** Parses `k=v;k2=v2`. Empty segments (a trailing ';') are skipped; a
    * token without '=' or with an empty key fails, naming the token. */
  def parseConf(spec: String): Seq[(String, String)] =
    spec.split(';').toSeq.map(_.trim).filter(_.nonEmpty).map { kv =>
      kv.split("=", 2) match {
        case Array(k, v) if k.trim.nonEmpty => k.trim -> v.trim
        case _ => throw new IllegalArgumentException(s"conf token '$kv' is not k=v")
      }
    }

  /** Sets each conf on the running session. A key Spark refuses to set at
    * runtime (a static or core conf) fails, naming the key: a silently
    * ignored conf would invalidate the run it was meant to change. */
  def applyConf(spark: SparkSession, kvs: Seq[(String, String)]): Unit =
    kvs.foreach { case (k, v) =>
      try spark.conf.set(k, v)
      catch { case e: Exception =>
        throw new IllegalArgumentException(s"conf '$k' cannot be set at runtime: ${e.getMessage}", e) }
    }

  /** A `local[cpus]` builder with the engine's standing tuning applied. */
  def localBuilder(cpus: String, shuffleParts: String): SparkSession.Builder =
    SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", shuffleParts)
      // NTZ event timestamps are cast to session-zone instants
      // (Tables.normalizeTs) — every entrypoint must pin UTC or a non-UTC
      // host shifts hour buckets and session windows.
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.extensions", "graft.GraftExtensions")
      // Hash-based typed aggregates (graft_latest, graft_topk, collect_set)
      // stay in ObjectHashAggregate's map up to 1M keys per task (~a few
      // hundred MB worst case) before the sort-based fallback — the 128-key
      // default would demote every large aggregation to a sort from row 129.
      .config("spark.sql.objectHashAggregate.sortBased.fallbackThreshold", "1048576")
      // Explicit multi-wave exchanges (Tables.clusterBy at 4x cores = 128
      // reduce partitions) sit UNDER the 200-partition bypass-merge default,
      // so every map task streams through 128 open bucket files (4k
      // concurrent buffers at 32 tasks) — measured 3-4x the map-side CPU of
      // the serialized sort writer on dv_sat_current/dv_pit_asof at sf1
      // (scan stage 41 -> 17 s CPU). Bypass applies when numPartitions <=
      // threshold, so 64 keeps genuinely-narrow exchanges (up to 64
      // buckets, incl. the one-wave 32s) on the cheap bypass path and
      // routes everything wider (>64 — incl. the 128s) through the
      // single-file sort writer.
      .config("spark.shuffle.sort.bypassMergeThreshold", "64")
      // AQE SMJ→SHJ conversion (guide §3.1): rewrite a planned sort-merge
      // join to shuffled-hash at runtime when EVERY post-shuffle partition
      // of the build side is under this size — a per-partition byte gate,
      // so the per-task hash build is bounded (≤64 MB) at any data scale
      // and skewed partitions simply keep the SMJ. Default 0 (off).
      // Adopted r22 after the r21 verdict's #3 interleaved both-orderings
      // A/B: sf1 neutral (q7/semantic flip sign with ordering), sf10
      // min-of-warm-reps favors the conversion on all three SMJ rows
      // (q7 5.29 vs 6.37 s, q5 4.10 vs 4.93 s, dedup_semantic 5.59 vs
      // 8.27 s) and the SMJ side showed 42-46 s sort-spill outliers under
      // co-tenant memory pressure that the hash side never hit. Full
      // 90-query sf0.1 bench A/B'd flat (OPTIMIZATION_r22.md §4).
      // Heap-headroom assumption: the SHJ build side cannot spill, and a
      // partition's in-memory hash relation can be several times its 64 MB
      // of compressed shuffle bytes, one per concurrently running build
      // task. The hosts this was measured on had that headroom; a small-heap
      // deployment should lower this key (it is settable at runtime).
      .config("spark.sql.adaptive.maxShuffledHashJoinLocalMapThreshold", "64m")
}
