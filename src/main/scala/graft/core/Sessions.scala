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
      // Compile once: Spark's JVM-wide cache of generated classes holds 100
      // entries by default, and graft's working set is larger — one cycle of
      // the benchmark's vault_ingest (a day's flows, compaction, lookups and
      // scans) needs ~210 classes, one corpus_dedup cycle ~400. At 100 the
      // cache thrashes and every operation pays Janino compiles plus fresh
      // JIT work again (122-129 compiles per vault write, 74-77 per read;
      // 14 and 4-8 with this cache and graft.functions.RunConstant's
      // per-run values). A cached class costs 23-28 KB of heap (its
      // source-string key plus the bytecode Janino's class loader keeps;
      // 100 -> 339 entries added 6.65 MB on corpus_dedup), so the cap's
      // worst case is ~28 MB. Static: set before the first compile.
      .config("spark.sql.codegen.cache.maxEntries", "1024")
      // The cache is paid for with status history this session cannot
      // show (the UI is off above): the status store still kept 1000 SQL
      // executions, 1000 jobs and stages and 100k tasks; one SQL execution
      // holds ~1,300 plan-metric objects, and each extra corpus_dedup cycle
      // retained ~6 MB
      // (87.2 MB of heap after 1 cycle, 99.6 MB after 3). Nothing graft
      // runs reads that history: Prof and SkewBench record stages with
      // their own listener (graft.tools.StageRecorder).
      .config("spark.sql.ui.retainedExecutions", "50")
      .config("spark.ui.retainedJobs", "50")
      .config("spark.ui.retainedStages", "50")
      .config("spark.ui.retainedTasks", "1000")
}
