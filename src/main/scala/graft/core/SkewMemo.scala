package graft.core

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}

/** [[SkewGuard]]'s memo of sampled hot-key sets.
  *
  * The guard samples its histogram at every PLAN CONSTRUCTION, so a loop
  * that re-plans over unchanged inputs (the flow executor's per-entity
  * fold, a streaming micro-batch re-probing a slowly-growing satellite)
  * would re-pay the same histogram each iteration. The histogram is a pure
  * function of the input FILES and the sampling confs, so it memoizes on a
  * file-level identity of the key projection the guard samples:
  *
  *   fingerprint = every leaf's parquet root paths + the optimized plan's
  *   size-in-bytes estimate + the plan's semantic hash + the caller's tag
  *   (key column, confs).
  *
  * Keying on the projection (not the caller's wider frame) lets every
  * guarded site that samples one key of the same files share one entry.
  * An append to any side changes its file listing and therefore its
  * `sizeInBytes` at the next read — a fresh fingerprint, a fresh histogram.
  * The semantic hash (canonicalized optimized plan) separates DIFFERENT
  * plans over the same files: without CBO a Filter doesn't move
  * `sizeInBytes`, so two per-entity views filtering the same table would
  * otherwise collide on one memo entry and the second would inherit the
  * first's histogram. Plans with any NON-file leaf (in-memory data, views
  * over caches) get no fingerprint and are computed every time:
  * correctness of the memo rests on files-are-immutable, which only holds
  * for file sources.
  *
  * Staleness is bounded and benign by construction: a hit returns the
  * histogram of the same files under a semantically-equal plan, and even a
  * (hypothetical) wrong hot-key set is a performance decision, not a
  * semantic one — every guarded operator produces identical rows for ANY
  * hot-key set (DvOpsSpec/SkewGuardSpec pin salted == unsalted equality).
  *
  * Bounded at [[MaxEntries]] (each value ≤ 64 key literals); on overflow
  * ONE arbitrary entry is dropped to make room. A full clear would zero the
  * hit rate exactly where the memo earns its keep — a vault with more than
  * [[MaxEntries]] guarded (plan, conf) sites would thrash every iteration
  * of the flow executor's per-entity loop.
  */
private[graft] object SkewMemo {
  private val MaxEntries = 128
  private val memo = new java.util.concurrent.ConcurrentHashMap[String, AnyRef]()

  def clear(): Unit = memo.clear()
  def size: Int = memo.size()

  /** File-level identity of ONE side, or None when any leaf is not a file
    * scan (no stable identity). */
  def sideFingerprint(df: DataFrame): Option[String] = {
    val plan = df.queryExecution.optimizedPlan
    val paths = plan.collectLeaves().map {
      case lr: LogicalRelation =>
        lr.relation match {
          case fs: HadoopFsRelation => fs.location.rootPaths.mkString(",")
          case _ => ""
        }
      case _ => ""
    }
    if (paths.exists(_.isEmpty)) None
    // semanticHash: canonicalized-plan identity — distinguishes two
    // differently-filtered reads of the SAME files (sizeInBytes alone
    // does not move under a Filter without CBO).
    else Some(paths.mkString(";") + "#" + plan.stats.sizeInBytes + "#" + plan.semanticHash())
  }

  /** File-level identity of `sides`, or None when any leaf is not a file
    * scan (no stable identity ⇒ caller computes uncached). */
  private def fingerprint(sides: Seq[DataFrame], tag: String): Option[String] = {
    val parts = sides.map(sideFingerprint(_).getOrElse(""))
    if (parts.exists(_.isEmpty)) None
    else {
      // session identity: confs differ per session and fingerprints must
      // not leak across concurrently-active sessions in one JVM
      val sess = System.identityHashCode(sides.head.sparkSession).toHexString
      Some(sess + "|" + parts.mkString("|") + "|" + tag)
    }
  }

  /** Return the memoized value for (sides, tag), computing on miss. */
  def cached[T <: AnyRef](sides: Seq[DataFrame], tag: String)(compute: => T): T =
    fingerprint(sides, tag) match {
      case None => compute
      case Some(fp) =>
        val hit = memo.get(fp)
        if (hit != null) hit.asInstanceOf[T]
        else {
          val v = compute
          // evict ONE arbitrary entry at capacity (see class doc) — racy
          // under concurrency but harmless: worst case the map briefly
          // exceeds MaxEntries by the number of racing writers
          if (memo.size() >= MaxEntries) {
            val it = memo.keySet().iterator()
            if (it.hasNext) memo.remove(it.next())
          }
          memo.put(fp, v)
          v
        }
    }
}
