package graft.core

import org.apache.spark.sql.RuntimeConfig

/** Named-key conf parsing for the `spark.graft.*` tuning knobs.
  *
  * Malformed values fail at the read site with the offending key NAMED
  * (matching the `Lake.bucketCount` validation style), instead of a raw
  * `NumberFormatException` from `.toDouble`/`.toLong` — and range checks
  * run here too, so a `sampleFraction` of 1.5 fails with this message
  * rather than deep inside Spark's `sample()`.
  */
object Confs {
  val SkewGuardKey = "spark.graft.skewGuard"
  val SampleFractionKey = "spark.graft.skewGuard.sampleFraction"
  val HotShareKey = "spark.graft.skewGuard.hotShare"

  def double(conf: RuntimeConfig, key: String, default: Double): Double =
    conf.getOption(key).map { v =>
      try v.trim.toDouble
      catch {
        case _: NumberFormatException => throw new IllegalArgumentException(
          s"$key must be a number, got '$v'")
      }
    }.getOrElse(default)

  def long(conf: RuntimeConfig, key: String, default: Long): Long =
    conf.getOption(key).map { v =>
      try v.trim.toLong
      catch {
        case _: NumberFormatException => throw new IllegalArgumentException(
          s"$key must be an integer, got '$v'")
      }
    }.getOrElse(default)

  /** skewGuard sample fraction — a Spark `sample()` fraction, so (0, 1]. */
  def sampleFraction(conf: RuntimeConfig): Double = {
    val f = double(conf, SampleFractionKey, 0.01)
    require(f > 0.0 && f <= 1.0, s"$SampleFractionKey must be in (0, 1], got $f")
    f
  }

  /** skewGuard hot-key row-share threshold — a proper fraction, so (0, 1). */
  def hotShare(conf: RuntimeConfig): Double = {
    val s = double(conf, HotShareKey, 0.05)
    require(s > 0.0 && s < 1.0, s"$HotShareKey must be in (0, 1), got $s")
    s
  }

  val MinBytesKey = "spark.graft.skewGuard.minBytes"

  /** Input-size floor (real leaf bytes, [[Tables.estBytesKnown]]) below
    * which `auto` skips its sampled histogram entirely and keeps the
    * default plan. Skew only hurts when one key's pileup exceeds a few
    * tasks' worth of work: below this floor even a 100%-hot key is a
    * bounded single-task job, while the histogram's fixed per-plan cost
    * (sample scan + two actions; measured +14% on the full sf0.1 bench
    * when UNgated — BASELINE.md skew-guard table) dominates. Above it
    * the histogram is noise against the load it protects. 0 = always
    * sample (tests pin detection on tiny frames this way). */
  def minBytes(conf: RuntimeConfig): Long = {
    val b = long(conf, MinBytesKey, 256L << 20)
    require(b >= 0L, s"$MinBytesKey must be >= 0, got $b")
    b
  }

  val ProbePruneMinBytesKey = "spark.graft.probePrune.minBytes"

  /** Size floor (real leaf bytes) above which incremental-load probes
    * bucket-prune the existing vault table to the staged batch's hk
    * buckets (`Lake.readOrProbe`). Below it a full scan is cheaper than
    * the extra driver action that computes the staged bucket set; above
    * it the probe's scan follows the BATCH's bucket span instead of vault
    * size — the difference between O(batch) and O(vault) per micro-batch
    * at 100 TB. Appends never list the table.
    *
    * The same floor sizes an unpinned lake's new tables (`Lake`'s
    * BUCKET-COUNT RESOLUTION): a table whose first increment is below it
    * gets one bucket, since its probes read it whole anyway, and
    * `Lake.compact` moves it to 16 buckets once its bytes reach the floor.
    * 0 = always prune, and every new table of an unpinned lake gets 16
    * buckets (tests). */
  def probePruneMinBytes(conf: RuntimeConfig): Long = {
    val b = long(conf, ProbePruneMinBytesKey, 256L << 20)
    require(b >= 0L, s"$ProbePruneMinBytesKey must be >= 0, got $b")
    b
  }

  val CompactTargetBytesKey = "spark.graft.compact.targetBytes"

  /** Per-output-file size target (compressed bytes) for `Lake.compact`.
    * One-file-per-bucket is the right shape while buckets stay modest, but
    * at production bucket sizes it degenerates to a single-task multi-GB
    * write per bucket — compaction splits any bucket above this target
    * into ~target-sized files instead. 1 GiB default: large enough that a
    * scan's split planning (maxPartitionBytes 128 MB) still gets its
    * parallelism from row groups, small enough that one compaction task's
    * write is minutes, not hours, and a straggler re-run loses one file. */
  def compactTargetBytes(conf: RuntimeConfig): Long = {
    val b = long(conf, CompactTargetBytesKey, 1L << 30)
    require(b >= (1L << 16), s"$CompactTargetBytesKey must be >= 64 KiB, got $b")
    b
  }

  val ClusterMaxTaskBytesKey = "spark.graft.cluster.maxTaskBytes"

  /** Per-task ESTIMATED-input ceiling for `Tables.clusterParts`' upper
    * clamp (see the ClusterWaves doc): above it the partition count grows
    * past the wave cap so the keyed aggregation's per-task hash map stays
    * deployment-constant instead of scaling with data. 4 MB of estimate ≈
    * 25-40 MB shuffled rows ≈ low-hundreds MB of map state — sized to a
    * 16 GiB / 32-core worker; raise proportionally to per-core memory. */
  def clusterMaxTaskBytes(conf: RuntimeConfig): Long = {
    val b = long(conf, ClusterMaxTaskBytesKey, 4L << 20)
    require(b >= (1L << 16), s"$ClusterMaxTaskBytesKey must be >= 64 KiB, got $b")
    b
  }

  val GenRetainMillisKey = "spark.graft.gen.retainMillis"

  /** Automatic retention window for SUPERSEDED generation data
    * ([[graft.core.Lake.compact]] retention note). `-1` (default) keeps the
    * original posture: superseded data survives until the NEXT compaction
    * of the same table, and early reclaim is a manual
    * `expireSuperseded` call. `>= 0` turns on POLICY reclaim: any
    * generation-writing or bucketed-append operation on the table deletes
    * superseded data once it has been superseded for at least this long
    * (age measured from the superseding generation's commit-marker mtime)
    * — so ≤ 2× storage between compactions no longer depends on operators
    * remembering `expireSuperseded`. Size the window to the longest scan a
    * reader may hold over an old generation (an in-flight reader of data
    * expired under it gets FILE_NOT_EXIST), PLUS a clock-skew margin: the
    * age compares the store's marker mtime against the driver's clock. */
  def genRetainMillis(conf: RuntimeConfig): Long = {
    val m = long(conf, GenRetainMillisKey, -1L)
    require(m >= -1L, s"$GenRetainMillisKey must be -1 (off) or >= 0, got $m")
    m
  }

  val BpeDictCapKey = "spark.graft.bpe.dictCap"
  val BpeNumMergesKey = "spark.graft.bpe.numMerges"
  val BpeMergesVersionKey = "spark.graft.bpe.mergesVersion"

  /** Driver-side word-TYPE dictionary cap for BPE merge training (the bound
    * on driver memory — the distributed word-frequency aggregation stays
    * linear in corpus size regardless). The tail beyond the cap is DROPPED
    * from training; the frozen artifact's `_train_stats.json` records the
    * dropped occurrence-mass fraction so token budgets carry an error bar:
    * the truncation is never silent. */
  def bpeDictCap(conf: RuntimeConfig): Int = {
    val v = long(conf, BpeDictCapKey, 32768L)
    require(v >= 1L && v <= Int.MaxValue, s"$BpeDictCapKey must be in [1, 2^31), got $v")
    v.toInt
  }

  /** Ranked merges trained per frozen BPE tokenizer (GPT-2's table has 50k;
    * training stops early at the min-pair-frequency floor). */
  def bpeNumMerges(conf: RuntimeConfig): Int = {
    val v = long(conf, BpeNumMergesKey, 1024L)
    require(v >= 0L && v <= Int.MaxValue, s"$BpeNumMergesKey must be in [0, 2^31), got $v")
    v.toInt
  }

  /** Version of the frozen BPE merges artifact. A frozen table is permanent
    * per (corpus dir, version) — the explicit retrain path (the same
    * explicit posture as Lake.rebucket): bump the version to
    * retrain after the corpus or the caps above change materially; old
    * versions stay on disk for in-flight readers until cleaned. Default 1
    * keeps the historical artifact path. */
  def bpeMergesVersion(conf: RuntimeConfig): Long = {
    val v = long(conf, BpeMergesVersionKey, 1L)
    require(v >= 1L, s"$BpeMergesVersionKey must be >= 1, got $v")
    v
  }

  val LoadClaimWaitMillisKey = "spark.graft.loadClaim.waitMillis"

  /** How long an incremental LOAD ([[graft.core.Lake.withLoadClaim]] — flow
    * executor targets, streamFlow micro-batches) waits for another loader's
    * per-table claim before refusing with a typed Concurrency error.
    * Default 5 minutes: the reference's DuckDB serializes concurrent flow
    * transactions, so the parity posture is "wait for the other loader,
    * then proceed over its committed rows" — but bounded, so a claim
    * marker orphaned by a crashed process surfaces as a LOUD refusal
    * (naming the marker and `releaseLoadClaim`) instead of a silent hang.
    * 0 = fail fast without waiting. */
  def loadClaimWaitMillis(conf: RuntimeConfig): Long = {
    val m = long(conf, LoadClaimWaitMillisKey, 300000L)
    require(m >= 0L, s"$LoadClaimWaitMillisKey must be >= 0, got $m")
    m
  }

  val ClaimsRequireAtomicKey = "spark.graft.claims.requireAtomic"

  /** Capability posture for the lake's claim markers (all five kinds,
    * [[graft.core.Lake.tryClaim]]), whose cross-process atomicity comes
    * from the store's create-fails-if-exists primitive. S3-class flat
    * object stores don't provide it (create(overwrite=false) is a
    * HEAD-then-PUT, not conditional), so on those stores cross-process
    * claim arbitration is ADVISORY. Default false = warn once per
    * filesystem and proceed (same-JVM races stay fully arbitrated by the
    * in-process registry); true = fail fast with a typed Configuration
    * error — for deployments that rely on CONCURRENT flows over one lake
    * and must not silently lose the claim guarantee. */
  def claimsRequireAtomic(conf: RuntimeConfig): Boolean =
    conf.getOption(ClaimsRequireAtomicKey).map(_.trim.toLowerCase) match {
      case None | Some("false") => false
      case Some("true")         => true
      case Some(other) => throw new IllegalArgumentException(
        s"$ClaimsRequireAtomicKey must be true|false, got '$other'")
    }

  val LatestShapeKey = "spark.graft.latestShape"

  /** Physical shape of the latest-row-per-key aggregation
    * ([[graft.dv.DvOps.latestRows]] family): auto | partial | hash.
    *
    * `partial` — the declarative two-phase `max(struct(...))`
    * SortAggregate: the MAP-SIDE partial collapses every scan task to ≤ 1
    * row per key before the aggregation's own exchange. Structurally safe
    * on ANY input: no typed-buffer fallback cliff, hot keys collapse per
    * task, deep histories never cross the wire.
    *
    * `hash` — the typed [[graft.dv.DvOps.maxStruct]] ObjectHashAggregate,
    * paired by the engine's callers with clusterBy sizing. No sort and no
    * struct re-serialization through the shuffle, but its sort-based
    * fallback serializes typed buffers per row, so it is only right when
    * per-task group counts stay bounded (pre-clustered inputs).
    *
    * DEFAULT `auto` = each call site's MEASURED-best shape (interleaved
    * same-session A/B on the real sf10 lineitem
    * satellite — bench/r21_latest_sf10.log; the synthetic narrow-payload
    * BvProf shallow profile mis-ranked the clustered pair, so the real
    * rows decide):
    *  - natural-input surfaces (Graft `<sat>_cv` temp views, ad-hoc
    *    currentRows): partial — 8.2 s vs 110.0 s for natural hash (the
    *    fallback cliff: ~1.9M groups per scan task vs the 1M threshold);
    *  - the engine's clusterBy-paired queries (dv_sat_current,
    *    dv_pit_asof): hash — 17.5 s vs 20.9 s for partial, whose
    *    struct-serialized shuffle was 3.1 GB vs 1.7 GB raw rows and whose
    *    per-row struct comparisons cost ~3× the CPU on this
    *    shallow-history profile. On DEEP or WIDE histories the ranking
    *    flips hard (partial 11-17 s vs 51-73 s at 16g deepwide;
    *    10%-hot key 10.1 s vs 83.9 s — bench/r21_bvprof_16g.log,
    *    bench/r21_skew_sf10.log): a deployment whose satellites carry
    *    long or hostile histories should set `partial` globally.
    *
    * BUILD-TIME LATCH: the conf is read when the DataFrame is
    * BUILT, so `<sat>_cv` temp views registered by
    * registerCurrentView/currentView keep the shape active at registration
    * — set the conf BEFORE initVault/createSat, or call
    * refreshCurrentViews/compact to re-register under the new value. The
    * `bv.<sat>_cv` SQL catalog views are shape-fixed view text and ignore
    * this conf entirely. */
  def latestShape(conf: RuntimeConfig): String =
    conf.getOption(LatestShapeKey).getOrElse("auto") match {
      case m @ ("auto" | "partial" | "hash") => m
      case other => throw new IllegalArgumentException(
        s"$LatestShapeKey must be auto|partial|hash, got '$other'")
    }

  /** The `spark.graft.skewGuard` mode: off | auto (default) — see
    * [[SkewGuard]]. `auto` measured neutral on the full bench at both
    * scales once gated on real leaf bytes (off-vs-auto interleaved floors:
    * sf0.1 -3.4%, sf1 -1.2% — the skew-guard runs under `bench/`); `off` is the
    * bit-identical-plans escape hatch. */
  def skewGuard(conf: RuntimeConfig): String =
    conf.getOption(SkewGuardKey).getOrElse("auto") match {
      case m @ ("off" | "auto") => m
      case other => throw new IllegalArgumentException(
        s"$SkewGuardKey must be off|auto, got '$other'")
    }
}
