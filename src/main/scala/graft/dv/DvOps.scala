package graft.dv

import java.sql.Timestamp

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.core.{SkewGuard, Tables}

/** Load metadata attached to every vault row (mirrors the reference's
  * `load_dts, record_source, run_id` audit columns). */
final case class LoadContext(loadDts: Timestamp, recordSource: String, runId: Long)

/** Core Data Vault load operators as pure DataFrame → DataFrame transformations.
  *
  * Each mirrors a SQL template of the reference (mallarddv/db/sql_templates.py)
  * but is expressed as a declarative Spark plan so Catalyst can push filters,
  * prune columns, and AQE can pick broadcast-vs-shuffle per batch size:
  *
  *  - [[newHubRows]]    ← INSERT_HUB        (sql_templates.py:181-198)
  *  - [[newLinkRows]]   ← INSERT_LINK       (sql_templates.py:201-217)
  *  - [[satNewRows]]    ← INSERT_SAT_NEW    (sql_templates.py:220-252)
  *  - [[satDeleteRows]] ← INSERT_SAT_DELETE (sql_templates.py:254-293)
  *  - [[currentRows]]   ← CREATE_CURRENT_VIEW (sql_templates.py:135-160)
  *  - [[asOfRows]]      — point-in-time extension of the current view.
  *
  * Scale posture: anti-joins shuffle on the 40-char hash key, which is
  * uniformly distributed by construction (no skew); increments are typically
  * ≪ vault size so AQE converts the staging side to broadcast. "Latest row
  * per key" uses a struct-`max` partial aggregation (map-side combine, the
  * ordering prefix leading a single shuffled struct) instead of a global
  * sort window.
  */
object DvOps {

  /** Latest row per hash key: deterministic via (load_dts, run_id, hash_diff)
    * ordering. Partial-aggregating struct `max` — no sort, no window. */
  def latestRows(sat: DataFrame, hk: String, preferredShape: String = "partial"): DataFrame = {
    val payload = sat.columns.filterNot(_ == hk).toIndexedSeq
    latestRowsProjected(sat, hk, payload, DefaultOrdering, preferredShape)
      .select(sat.columns.map(col).toIndexedSeq: _*) // original column order
  }

  /** [[graft.functions.MaxStruct]] as a Column — hash-based latest-row
    * aggregation (ObjectHashAggregate) instead of the SortAggregate Spark
    * plans for declarative max over a struct buffer. Ordering identical to
    * `max(struct(...))`. */
  private[graft] def maxStruct(c: Column): Column =
    org.apache.spark.sql.GraftColumnBridge.column(
      graft.functions.MaxStruct(
        org.apache.spark.sql.GraftColumnBridge.expression(c)).toAggregateExpression())

  /** The default version ordering: latest `load_dts` wins, `run_id` then
    * `hash_diff` break ties deterministically. */
  val DefaultOrdering: Seq[String] = Seq("load_dts", "run_id", "hash_diff")

  /** Resolve the effective latest-row shape: an explicit conf value wins;
    * `auto` (default) takes the call site's measured-best `preferred`
    * (see [[graft.core.Confs.latestShape]] for the r21 measurements). */
  private[graft] def resolveLatestShape(sat: DataFrame, preferred: String): String =
    graft.core.Confs.latestShape(sat.sparkSession.conf) match {
      case "auto" => preferred
      case forced => forced
    }

  /** [[latestRows]] carrying only `payload` columns (plus the key): the
    * aggregated struct is what travels through the shuffle, so callers that
    * only need a column or two (e.g. the delta-load's (hash_diff, del_flag)
    * probe) should not drag the full satellite payload along.
    *
    * ONE struct, not max_by(picked, ord): the ordering prefix
    * (load_dts, run_id, hash_diff) leads a single struct and the remaining
    * payload follows, so `max` picks the same row max_by would — struct
    * comparison is field-by-field left to right — without shipping the
    * ordering columns twice. hash_diff alone is a 32-char hex string, so the
    * max_by shape paid ~48 duplicated bytes per aggregation-buffer row and
    * per shuffled partial; at the sf10 stress scale that was ~40% of the
    * dv_sat_current exchange. Ties beyond the ordering prefix (only possible
    * for fully identical version rows, since hash_diff is a content hash)
    * resolve deterministically by the remaining fields instead of max_by's
    * arbitrary-row pick — strictly more deterministic, same latest-row
    * semantics, bit-identical on any corpus without full-row duplicates. */
  def latestRowsProjected(
      sat: DataFrame, hk: String, payload: Seq[String],
      ordering: Seq[String] = DefaultOrdering,
      preferredShape: String = "partial"): DataFrame = {
    // The ordering is an EXPLICIT contract, not inferred from the schema: a
    // typo'd or mis-projected satellite must fail analysis loudly, not
    // silently degrade to payload-order tiebreaks. Callers whose
    // (load_dts, run_id) is already unique per key may opt in to a shorter
    // prefix by passing it — load_dts always leads (it DEFINES "latest").
    require(ordering.headOption.contains("load_dts"),
      s"latestRows ordering must start with load_dts, got $ordering")
    val missingOrd = ordering.filterNot(sat.columns.contains)
    require(missingOrd.isEmpty,
      s"latestRows ordering columns $missingOrd absent from satellite schema ${sat.columns.toSeq}")
    val ordCols = ordering
    val rest = payload.filterNot(ordCols.contains)
    val row = struct((ordCols ++ rest).map(col): _*)
    // Shape dispatch (spark.graft.latestShape — full measured table on
    // graft.core.Confs.latestShape): `partial` is the declarative
    // two-phase max(struct) whose map-side partial collapses each task to
    // ≤ 1 row per key before the exchange — the safe default for
    // arbitrary input; `hash` is the typed ObjectHashAggregate for
    // pre-clustered bounded-key inputs (the engine's clusterBy-paired
    // callers). Both aggregate the SAME struct with the same
    // field-by-field ordering, so rows out are bit-identical (PlanSpec
    // pins the equality).
    val best =
      if (resolveLatestShape(sat, preferredShape) == "hash") maxStruct(row)
      else max(row)
    sat
      .groupBy(col(hk))
      .agg(best.as("__r"))
      .select(col(hk) +: payload.map(c => col(s"__r.$c").as(c)): _*)
  }

  /** The keyed-entity load shape hubs and links share (the reference loads
    * both with the same INSERT pattern — INSERT_HUB sql_templates.py:181-198
    * and INSERT_LINK :201-217 differ only in the attribute columns):
    * distinct staged (hk, attrs) anti-joined against existing keys, audit
    * columns attached. ONE definition so a change to the load shape (audit
    * column order, distinct placement) cannot desynchronize hub vs link
    * semantics. */
  private[graft] def newKeyedRows(
      hashView: DataFrame,
      existing: DataFrame,
      groupName: String,
      attrFields: Seq[(String, String)],
      hkName: String,
      ctx: LoadContext
  ): DataFrame = {
    val staged = hashView
      .select((col(s"${groupName}_hk").as(hkName) +: attrFields.map { case (s, t) => col(s).as(t) }).toIndexedSeq: _*)
      .distinct()
    val fresh = staged.join(existing.select(col(hkName)), Seq(hkName), "left_anti")
    fresh.select(audited(ctx, col(hkName), Nil, attrFields.map { case (_, t) => col(t) }): _*)
  }

  /** A vault row in [[VaultSchemas]] column order: `hk, load_dts,
    * <satHead>, record_source, run_id, <payload>` (`satHead` is a
    * satellite's `del_flag, hash_diff`, empty for hubs and links). The
    * ONE place the audit columns are built. `load_dts` and `run_id` are
    * bound by reference ([[graft.functions.RunConstant]]), not inlined as
    * literals, so a load plan compiles once and every later flow, and
    * every streaming micro-batch (run_id = batch id), reuses its classes. */
  private def audited(ctx: LoadContext, hk: Column, satHead: Seq[Column], payload: Seq[Column]): Seq[Column] =
    ((hk +: graft.functions.RunConstant.column(ctx.loadDts).as("load_dts") +: satHead) ++
      (lit(ctx.recordSource).as("record_source") +:
        graft.functions.RunConstant.column(ctx.runId).as("run_id") +: payload)).toIndexedSeq

  /** New-hub-rows load: distinct staged keys anti-joined against the existing
    * hub. `bkFields` maps staged source field → hub business-key column. */
  def newHubRows(
      hashView: DataFrame,
      existingHub: DataFrame,
      groupName: String,
      bkFields: Seq[(String, String)],
      hkName: String,
      ctx: LoadContext
  ): DataFrame = newKeyedRows(hashView, existingHub, groupName, bkFields, hkName, ctx)

  /** New-link-rows load: same anti-join pattern; `legFields` maps the staged
    * hash-view column (either `<hubgroup>_hk` for a leg or a plain degenerate
    * key field) → link column. */
  def newLinkRows(
      hashView: DataFrame,
      existingLink: DataFrame,
      groupName: String,
      legFields: Seq[(String, String)],
      hkName: String,
      ctx: LoadContext
  ): DataFrame = newKeyedRows(hashView, existingLink, groupName, legFields, hkName, ctx)

  /** Hot-set membership that treats a NULL key as a real key.
    * `Column.isin` yields NULL (falsy under `when()`) for a null-valued
    * input, so a bare isin over a hot set containing null would silently
    * exclude the null sentinel key — the canonical degenerate key the
    * skewGuard docs cite — from the hot split, leaving its entire pileup
    * in cell 0. Null membership gets an explicit `isNull` branch instead.
    * Always returns true/false, never NULL. */
  private[graft] def hotKeyPredicate(hotKeys: Seq[Any], c: Column): Column = {
    val nullIsHot = hotKeys.contains(null)
    val nonNullHot = hotKeys.filterNot(_ == null).toIndexedSeq
    if (nonNullHot.isEmpty) c.isNull && lit(nullIsHot)
    else if (nullIsHot) c.isNull || c.isin(nonNullHot: _*)
    else c.isNotNull && c.isin(nonNullHot: _*)
  }

  /** Hot keys and fan-out width of a salted satellite shape: an explicit
    * `salt > 1` samples at that width without the size gate; the default
    * asks the skew guard, which fans out [[SkewGuard.SaltWidth]] ways. An
    * empty hot set means the unsalted plan. */
  private def saltPlan(
      sides: Seq[DataFrame], satHk: String, salt: Int, site: String): (Array[Any], Int) = {
    require(salt >= 1, s"$site salt must be >= 1, got $salt")
    if (salt > 1) (SkewGuard.sampledHotKeys(sides, satHk), salt)
    else (SkewGuard.hotKeys(sides, satHk, s"$site($satHk)"), SkewGuard.SaltWidth)
  }

  /** Satellite delta insert: staged rows whose (hk, hash_diff) does NOT match
    * the latest active (del_flag=false) satellite row for that key. Covers
    * brand-new keys, changed payloads, and re-activation after deletion —
    * reference INSERT_SAT_NEW semantics.
    *
    * @param hkSource      hash-view column holding the parent hub/link hash key
    * @param hashdiffField hash-view column holding the payload hashdiff
    * @param fields        staged source field → satellite column
    * @param salt hot-key fan-out (default 1: the skew guard decides). The
    *   default shape assumes per-key staged/history cardinality is
    *   batch-bounded; a pathological key holding ~10% of all version rows
    *   concentrates its whole history + staged set in ONE task (SkewBench sf10: max task
    *   9.45 s vs 0.67 s stage median — BASELINE.md vault-skew table,
    *   raw sessions bench/r13_skew_vault.jsonl). With salt = n, the skew
    *   guard's sampled histogram ([[SkewGuard.sampledHotKeys]], ungated)
    *   names the hot keys (≤ 64) and ONLY their rows fan out over n
    *   (key, cell) cells — probe history by salt-of-row, staged
    *   distinct by salt-of-hashdiff, the one-row-per-key probe replicated
    *   ×n into the co-partitioned join — while every other key keeps cell
    *   0, preserving the unsalted shape's bytes and per-key collapse (an
    *   earlier salt-everything variant cost 2× wall at sf10 by
    *   re-shuffling uncollapsed version rows at level 2). Same rows out
    *   for ANY hot-key set, including empty (DvOpsSpec "salted delta load
    *   matches unsalted on a hot-key batch" pins salted ≡ unsalted); costs
    *   one sampled key-column pass + a narrow one-row-per-key exchange, so
    *   leave it at 1 unless the batch is known hot: at 1, `auto` engages a
    *   [[SkewGuard.SaltWidth]]-way split above the size gate
    *   ([[SkewGuard.hotKeys]]). Measured numbers: BASELINE.md vault-skew
    *   table (SkewBench `sat_delta_salted`). */
  def satNewRows(
      hashView: DataFrame,
      existingSat: DataFrame,
      hkSource: String,
      hashdiffField: String,
      fields: Seq[(String, String)],
      satHk: String,
      ctx: LoadContext,
      salt: Int = 1
  ): DataFrame = {
    // Two co-partitioned branches, one wave-granular key shuffle each, no
    // object-buffer aggregation anywhere:
    //   * probe  — latest active (hash_diff, del_flag) per key over the
    //     narrow satellite rows: graft_latest (hash-based ObjectHash-
    //     Aggregate, codegen'd update) on a key-clustered input;
    //   * staged — distinct (key, hash_diff, payload): a group-keys-only
    //     HashAggregate over UnsafeRow maps (same (hk, hash_diff) implies
    //     same payload — hash_diff IS the payload hash — so full-row
    //     distinct ≡ a per-key set of (hash_diff, payload));
    //   * join   — staged ⟕ probe on the key, then the reference's
    //     INSERT_SAT_NEW predicate.
    // Neither aggregation re-shuffles above its clusterBy (HashPartitioning
    // on hk satisfies both the probe's groupBy(hk) and the staged
    // distinct's wider grouping), and the join sees two co-partitioned
    // sides — so the wire cost is the two narrow inputs, once each, same
    // bytes as the previous union-then-one-groupBy shape. What this
    // replaces is that shape's struct-max + collect_set aggregation, whose
    // per-key OBJECT buffers (a hash set of struct copies, serialized
    // across the adjacent partial/final boundary even with no exchange
    // between) were the dominant CPU of the sf10 delta load. Per-key
    // staged cardinality is batch-bounded, so every structure here is
    // wave-bounded by construction.
    val payload = struct(fields.map { case (s, t) => col(s).as(t) }: _*)
    val probeIn = existingSat.select(
      col(satHk),
      col("load_dts").cast("timestamp").as("load_dts"),
      col("run_id").cast("long").as("run_id"),
      col("del_flag"),
      col("hash_diff"))
    val stagedIn = hashView.select(
      col(hkSource).as(satHk),
      col(hashdiffField).as("hash_diff"),
      payload.as("__p"))
    // Hot keys first: empty under `off`, below the size gate, or when the
    // sampled histogram finds nothing hot — each of those takes the ONE
    // unsalted branch below, so the explicit-salt, guarded and nothing-hot
    // paths can never silently diverge in plan shape.
    val (hotKeys, width) = saltPlan(Seq(probeIn, stagedIn), satHk, salt, "satNewRows")
    // Size the join's partitioning ONCE from both sides (max of the two
    // estimates): independently-sized clusterBy calls can land on different
    // counts in the transition region, and EnsureRequirements then inserts a
    // third exchange above one side — exactly the co-partitioned shape the
    // PlanSpec dv_sat_delta guard pins against.
    val parts = math.max(Tables.clusterParts(probeIn), Tables.clusterParts(stagedIn))
    val activeStruct = struct(col("load_dts"), col("run_id"), col("hash_diff"), col("del_flag"))
    val (staged, probe, joinKeys) =
      if (hotKeys.isEmpty) {
        val probe1 = Tables.clusterBy(probeIn, parts, satHk)
          .groupBy(col(satHk))
          .agg(maxStruct(activeStruct).as("__active"))
        val staged1 = Tables.clusterBy(stagedIn, parts, satHk).distinct()
        (staged1, probe1, Seq(satHk))
      } else {
        // HOT-KEY SPLIT. Salting EVERY key would forfeit the per-key
        // collapse the first aggregation level provides — for a uniform
        // key with ~10 versions and salt 16, almost every (key, cell) holds
        // one row, so the second level re-shuffles ≈ the whole satellite
        // (measured 2× wall at sf10). Instead a sampled key histogram
        // names the hot keys (≤ 64), and ONLY their rows fan out over
        // `width` cells; every other key keeps cell 0. The (key, cell)
        // exchange then carries exactly the unsalted shape's bytes, level 2
        // ships one narrow row per key (+`width` per hot key), and the hot
        // keys' history/staged sets are bounded at 1/width per task.
        def isHot(c: Column) = hotKeyPredicate(hotKeys.toIndexedSeq, c)
        // salt-of-row for the probe history; the salt is a pure function
        // of the row, so `max` over any cell partition is associative-
        // safe and the two-level result equals the one-level max.
        val rowSalt = when(isHot(col(satHk)),
          pmod(xxhash64(col("hash_diff"), col("load_dts"), col("run_id")), lit(width)))
          .otherwise(lit(0)).cast("int")
        val level1 = Tables.clusterBy(probeIn.withColumn("__salt", rowSalt), parts, satHk, "__salt")
          .groupBy(col(satHk), col("__salt"))
          .agg(maxStruct(activeStruct).as("__active"))
        // level 2: one row per key ± salt per hot key — a narrow exchange
        val probeRow = level1.groupBy(col(satHk)).agg(maxStruct(col("__active")).as("__active"))
        // replicate the probe row into every cell its staged twin can
        // land in: ×salt for hot keys, cell 0 only for the rest
        val probeN = Tables.clusterBy(
          probeRow.withColumn("__salt",
            explode(sequence(lit(0), when(isHot(col(satHk)), lit(width - 1)).otherwise(lit(0))))),
          parts, satHk, "__salt")
        // salt-of-hashdiff, NOT salt-of-row: duplicate staged rows share
        // their hash_diff, so they land in the same cell and the
        // partition-local distinct still collapses them. __salt rides
        // along as a distinct column — a pure function of (key,
        // hash_diff), so the groups are unchanged.
        val stagedSalt = when(isHot(col(satHk)), pmod(xxhash64(col("hash_diff")), lit(width)))
          .otherwise(lit(0)).cast("int")
        val stagedN = Tables.clusterBy(
          stagedIn.withColumn("__salt", stagedSalt), parts, satHk, "__salt")
          .distinct()
        (stagedN, probeN, Seq(satHk, "__salt"))
      }
    // shuffle_hash: the probe side is one narrow row per key (×salt when
    // salted) and both sides are co-partitioned, so a per-task hash build
    // beats the sort-merge pair of per-task sorts; per-task build size is
    // keys / (ClusterWaves × cores), wave-bounded by construction.
    staged.join(probe.hint("shuffle_hash"), joinKeys, "left")
      .filter(
        col("__active").isNull || col("__active.del_flag") ||
          col("__active.hash_diff") =!= col("hash_diff"))
      .select(audited(ctx, col(satHk), Seq(lit(false).as("del_flag"), col("hash_diff")),
        fields.map { case (_, t) => col(s"__p.$t").as(t) }): _*)
  }

  /** Full-load delete detection: latest active satellite rows whose key is
    * absent from the staged batch become `del_flag=true` rows carrying the
    * previous payload and hash_diff — reference INSERT_SAT_DELETE semantics.
    *
    * @param salt hot-key fan-out for the anti-join (default 1: the skew
    *   guard decides, like [[satNewRows]]). The skew exposure here is the
    *   anti-join's OWN key exchange, not the aggregation above it: the
    *   join shuffles the whole satellite on the key, so a degenerate key's entire version history
    *   lands in one join task (the 22.6 s / 330 MB-spill class from the
    *   BASELINE vault-skew table) — and the latest-row aggregation then
    *   fuses onto that same stage with no exchange between, inheriting the
    *   pileup. With salt = n, the sampled histogram names the hot keys and
    *   ONLY their existing rows fan out over n (key, cell) cells by
    *   row-hash; the one-row-per-key staged probe replicates ×n for hot
    *   keys (cell 0 for the rest), so the anti-join stays an equi-join on
    *   (key, cell) with exchange bytes identical to the unsalted shape.
    *   Dropping the cell column afterwards re-exposes the hot key to the
    *   aggregation — deliberately: the (key, cell) partitioning no longer
    *   satisfies groupBy(key), so Spark restores its partial-before-exchange
    *   shape there, and the partial collapses each cell's pileup to one row
    *   before the wire. Same rows out for any hot-key set (anti-join
    *   membership is key-only either way). */
  def satDeleteRows(
      hashView: DataFrame,
      existingSat: DataFrame,
      hkSource: String,
      fields: Seq[String],
      satHk: String,
      ctx: LoadContext,
      salt: Int = 1
  ): DataFrame = {
    // distinct() on the probe side is semantically redundant for an
    // anti-join, but measured FASTER at sf1 (1.4s vs 2.1s): the aggregation
    // exchange it introduces is exactly the partitioning the join needs, and
    // AQE plans the join off the aggregated exchange's statistics.
    val stagedKeys = hashView.select(col(hkSource).as(satHk)).distinct()
    val (hotKeys, width) = saltPlan(Seq(existingSat), satHk, salt, "satDeleteRows")
    val absent =
      if (hotKeys.isEmpty) existingSat.join(stagedKeys, Seq(satHk), "left_anti")
      else {
        def isHot(c: Column) = hotKeyPredicate(hotKeys.toIndexedSeq, c)
        // salt-of-row over the version identity — pure function of the row,
        // so membership semantics are unchanged (every cell of a staged hot
        // key exists on the probe side).
        val rowSalt = when(isHot(col(satHk)),
        pmod(xxhash64(col("hash_diff"), col("load_dts"), col("run_id")), lit(width)))
        .otherwise(lit(0)).cast("int")
        val stagedN = stagedKeys.withColumn("__salt",
        explode(sequence(lit(0), when(isHot(col(satHk)), lit(width - 1)).otherwise(lit(0)))))
        existingSat.withColumn("__salt", rowSalt)
        .join(stagedN, Seq(satHk, "__salt"), "left_anti")
        .drop("__salt")
      }
    // Anti-join BELOW the latest-row aggregation: the join key is the groupBy
    // key, so a key either survives with all its version rows or is dropped
    // whole — semantics identical, but the (expensive, full-payload) max_by
    // aggregation then runs only over the keys actually absent from the
    // batch instead of the whole satellite.
    // preferred "hash": when the anti-join plans as a SHUFFLE join its
    // exchange already distributes by the key, so the typed aggregate runs
    // in-place with NO extra exchange and AQE's byte-sized partitions keep
    // per-task group counts bounded far under the fallback threshold
    // (~40k/task at sf10) — the pre-clustered regime where hash measured
    // best (r21, Confs.latestShape). CAVEAT (r21 ADVICE): if AQE BROADCASTS
    // the (typically small) distinct staged-key side instead, the satellite
    // keeps scan partitioning and per-task group counts are unbounded —
    // the natural-input regime where hash hits the ObjectHashAggregate
    // fallback cliff. A deployment in that regime sets latestShape=partial
    // (the global override wins over this per-site preference).
    val gone = latestRows(absent, satHk, preferredShape = "hash")
      .filter(!col("del_flag"))
    gone.select(audited(ctx, col(satHk), Seq(lit(true).as("del_flag"), col("hash_diff")), fields.map(col)): _*)
  }

  /** Current view: latest satellite row per key (all columns).
    * `preferredShape` is the shape `latestShape=auto` resolves to (see
    * [[graft.core.Confs.latestShape]]): the default `partial` is the safe
    * shape for arbitrary (natural) input — the r21 A/B measured natural
    * hash at 110.0 s vs 8.2 s partial on the sf10 satellite (typed-buffer
    * fallback past ~1M groups/task); callers that pre-cluster the input
    * by the key (bounded per-task groups) pass "hash". */
  def currentRows(sat: DataFrame, satHk: String, preferredShape: String = "partial"): DataFrame =
    latestRows(sat, satHk, preferredShape)

  /** Point-in-time view: latest satellite row per key as of `ts`
    * (inclusive). Shape note as [[currentRows]]. */
  def asOfRows(sat: DataFrame, satHk: String, ts: Column, preferredShape: String = "partial"): DataFrame =
    latestRows(sat.filter(col("load_dts") <= ts), satHk, preferredShape)

  /** PIT table (Data Vault 2.0 query-assistance construct): one row per hub
    * key with, per satellite, the load_dts of the version active as of `ts`
    * (null when the sat has no version yet). Downstream equi-joins
    * (hk, <sat>_load_dts) replace repeated as-of window scans — the
    * standard trick for making vault queries flat at warehouse scale. */
  def pitTable(keys: DataFrame, hk: String, sats: Seq[(String, DataFrame)], ts: Column): DataFrame = {
    // ONE shuffle, not a fold of joins. The as-of load_dts per sat is by
    // definition max(load_dts ≤ ts) per key, and a per-key max over a union
    // is the same as a left join of per-sat maxes — so tag each satellite's
    // (hk, load_dts) rows with its position, union with the key set, and
    // aggregate once. The fold-of-joins shape shuffles 2N+1 times (key
    // distinct + per-sat groupBy + N joins); this shape shuffles the same
    // narrow rows exactly once, with map-side combine collapsing each
    // partition to ≤1 row per (key, sat) before the wire — the difference
    // between N passes and one pass over the vault at 100 TB. Hash keys are
    // non-null by construction (coalesce'd hashes), which makes the
    // union-aggregate exactly equivalent to the join formulation.
    // Union in timestamp (order-isomorphic superset of date), restore each
    // sat's original load_dts type on the way out.
    val dtsTypes = sats.map { case (_, sat) => sat.schema("load_dts").dataType }
    val keyRows = keys
      .select(col(hk), lit(-1).as("__sat"), lit(null).cast("timestamp").as("__dts"))
    val satRows = sats.zipWithIndex.map { case ((_, sat), i) =>
      sat.filter(col("load_dts") <= ts)
        .select(col(hk), lit(i).as("__sat"), col("load_dts").cast("timestamp").as("__dts"))
    }
    val aggs = sats.zipWithIndex.map { case ((name, _), i) =>
      max(when(col("__sat") === i, col("__dts"))).cast(dtsTypes(i)).as(s"${name}_load_dts")
    }
    satRows
      .foldLeft(keyRows)(_ unionAll _)
      .groupBy(col(hk))
      .agg(max(col("__sat") === -1).as("__isKey"), aggs: _*)
      .filter(col("__isKey"))
      .select(col(hk) +: sats.map { case (name, _) => col(s"${name}_load_dts") }: _*)
  }
}
