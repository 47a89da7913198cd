package graft.core

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.{col, count, lit, sum}

/** The skew guard: the one place that decides "sample a key histogram
  * here, and is any key hot?" for every guarded site —
  * [[Tables.clusterByGuarded]], [[graft.dv.DvOps.satNewRows]] and
  * [[graft.dv.DvOps.satDeleteRows]].
  *
  * `spark.graft.skewGuard` picks the mode ([[Confs.skewGuard]]):
  *  - `off` — never sample: every site keeps its uniform-key plan,
  *    bit-identical to an unguarded build;
  *  - `auto` (default) — above the `spark.graft.skewGuard.minBytes` size
  *    gate on real leaf bytes ([[Tables.estBytesKnown]]), one sampled key
  *    histogram names the hot keys. Measured neutral on the full bench at
  *    sf0.1 and sf1 once gated (BASELINE.md "Skew-guard DEFAULT
  *    decision"), while a hostile key under the unguarded plan is the
  *    22.6 s max-task / 330 MB-spill class the guard cuts to 1.2× of stage
  *    median (BASELINE.md "Vault-load skew").
  *
  * The histogram samples the key column at
  * `spark.graft.skewGuard.sampleFraction` (default 0.01); a key is hot
  * when its sampled count is ≥ max(2, tot × `spark.graft.skewGuard.hotShare`)
  * (default 0.05) over a sample of tot ≥ 200 rows — smaller samples are
  * too noisy to overrule the default plan. The hot set only picks a
  * PLAN — every guarded site returns the same rows for any hot set, empty
  * included — so sampling noise can cost time, never correctness.
  *
  * Each gate decision (and `Lake.readOrProbe`'s probe-prune gate) is one
  * DEBUG line `<site> engaged=<bool> knownBytes=<n|unknown>` on this
  * object's log4j logger, `graft.core.SkewGuard`: every engagement is a
  * sampling job, so a deployment can attribute the cost from its logs. */
object SkewGuard {

  /** Hot-key fan-out of the salted satellite shapes when `auto` engages:
    * the measured sf10 sweet spot (BASELINE.md vault-skew table). */
  val SaltWidth = 16

  private val log = org.apache.logging.log4j.LogManager.getLogger("graft.core.SkewGuard")

  /** One DEBUG line per gate decision. */
  private[graft] def logGate(site: String, engaged: Boolean, bytes: Option[BigInt]): Unit =
    if (log.isDebugEnabled)
      log.debug(s"$site engaged=$engaged knownBytes=${bytes.getOrElse("unknown")}")

  /** The hot keys of `key` over `sides` (≤ 64, hottest first), or empty
    * when the guard is `off`, every side sits under the size gate, or
    * nothing is hot. Below the gate this costs one [[Tables.estBytesKnown]]
    * walk per side and nothing else: skew there is a couple of bounded
    * tasks, while the histogram's fixed cost (a sample scan and two
    * actions) measured +14% on the ungated sf0.1 bench. A side with
    * unknown stats (a streaming micro-batch's sentinel-sized LogicalRDD)
    * cannot engage the gate. */
  def hotKeys(sides: Seq[DataFrame], key: String, site: String): Array[Any] = {
    val conf = sides.head.sparkSession.conf
    if (Confs.skewGuard(conf) == "off") return Array.empty
    // parse the sampling confs eagerly: a misconfigured guard fails even
    // where the gate skips
    Confs.sampleFraction(conf)
    Confs.hotShare(conf)
    val known = sides.flatMap(Tables.estBytesKnown)
    val engaged = known.nonEmpty && known.max >= Confs.minBytes(conf)
    logGate(site, engaged, known.maxOption)
    if (engaged) sampledHotKeys(sides, key) else Array.empty
  }

  /** The sampled histogram behind [[hotKeys]], without mode or gate (an
    * explicit `salt` on the satellite shapes calls it directly): union the
    * sides' `key` columns at `spark.graft.skewGuard.sampleFraction`, count,
    * and name the keys clearing `spark.graft.skewGuard.hotShare`. Runs
    * eagerly at plan construction, memoized in [[SkewMemo]] on the key
    * projection, so two sites sampling one key of the same files share a
    * histogram.
    *
    * When the side list MIXES file-backed and non-file inputs — the
    * streaming satellite shape, where the staged micro-batch is a
    * LogicalRDD with no stable identity — the non-file sides are dropped
    * and the histogram samples (and memoizes on) the file sides alone.
    * Keeping the micro-batch would make every batch's fingerprint None,
    * so each micro-batch past the gate would re-pay the histogram. The
    * drop is sound because the hot set is a plan choice only, and the
    * pileup the split exists for lives in the persisted history: a
    * micro-batch adds at most one batch of rows per key. */
  private[graft] def sampledHotKeys(sides: Seq[DataFrame], key: String): Array[Any] = {
    val conf = sides.head.sparkSession.conf
    val frac = Confs.sampleFraction(conf)
    val hotShare = Confs.hotShare(conf)
    val keyed = sides.map(_.select(col(key)))
    val fileSides = keyed.filter(SkewMemo.sideFingerprint(_).isDefined)
    val effective = if (fileSides.nonEmpty) fileSides else keyed
    SkewMemo.cached(effective, s"$key:$frac:$hotShare") {
      // count(1) aliased, not .count(): a key column literally named
      // "count" would otherwise make the references below ambiguous
      val sampled = effective
        .map(_.sample(withReplacement = false, frac, seed = 42L))
        .reduce(_ union _)
        .groupBy(col(key)).agg(count(lit(1)).as("__graft_cnt"))
      sampled.persist()
      try {
        val tot = Option(sampled.agg(sum("__graft_cnt")).head().get(0)).fold(0L)(_.asInstanceOf[Long])
        if (tot < 200) Array.empty[Any]
        else sampled.filter(col("__graft_cnt") >= lit(math.max(2.0, tot * hotShare)))
          .orderBy(col("__graft_cnt").desc).limit(64)
          .select(col(key)).collect().map(_.get(0))
      } finally { sampled.unpersist(); () }
    }
  }
}
