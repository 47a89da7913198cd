package graft.core

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

import graft.etl.{DvError, DvException}

/** Persisted per-table physical layout: the facts a reader/writer MUST
  * agree with the table's on-disk data about, recorded at table create and
  * carried across generations by compact/rebucket.
  *
  * `bucketCount` is the one that bites at scale: a key's `hk_bucket` is
  * `pmod(xxhash64(key), bucketCount)`, so a session whose
  * `spark.graft.buckets` conf (or Lake constructor arg) drifted from the
  * count the table was WRITTEN with would compute different bucket
  * assignments — bucket-pruned probes and point lookups would scan the
  * wrong partitions and silently miss existing keys (hub loads re-insert
  * duplicates, sat deltas re-version every key). The record makes the
  * table's own count authoritative: every bucket-coupled operation
  * resolves the count from here, so conf drift is harmless (and noted once
  * on stderr); changing a table's count is an explicit [[Lake.rebucket]].
  *
  * `keyCol` pins the bucketing column — an append bucketing on a different
  * column would scatter one key over two derivations, so it fails loudly.
  * `sortBy` records the within-file sort the last compact/rebucket applied
  * (informational: tells readers whether row-group pruning on e.g.
  * load_dts can engage).
  *
  * `sized` marks a count the lake chose from the table's size (an unpinned
  * lake, see [[Lake]]'s BUCKET-COUNT RESOLUTION) rather than one pinned by
  * configuration or [[Lake.rebucket]]: [[Lake.compact]] re-sizes a sized
  * table, and no drift note fires for it. It is written as `"sized":true`
  * and only when set, so a pinned record's bytes are unchanged and a
  * record without the field reads as pinned. */
final case class TableLayout(bucketCount: Int, keyCol: String, sortBy: Seq[String], sized: Boolean = false)

/** Layered lake storage for the vault: `{root}/{layer}/{table}` parquet
  * tables, layers mirroring the reference's schemas
  * (mallarddv/db/schema_manager.py:21 — stg, dv, bv, dm, metadata).
  *
  * The reference uses a single-file DuckDB database; the Spark re-expression
  * is a lake layout where every table is an append/overwrite parquet
  * directory usable from any number of executors. Vault tables are written
  * bucketed by a hash-key prefix column (`hk_bucket`) so that at 100 TB a
  * vault table's scan, as well as hub/link anti-joins repartitioned on the
  * same derivation, can prune and co-locate by bucket.
  *
  * ONE LAYOUT: a table's data lives in its highest COMMITTED generation,
  * `{table}/gen-N/`, and the create of `gen-N/_graft_committed` is the
  * commit ([[commitGeneration]]). A table's first write commits `gen-1`,
  * compact/rebucket commit the next generation, and [[overwrite]] deletes
  * the table and commits `gen-1` again. The table root holds nothing but
  * generation dirs and the compaction claim, so a table exists exactly
  * when it has a committed generation, and an external engine reads
  * [[dataPath]]. A root holding data outside any generation was written by
  * the older flat layout and is refused — there is no migration.
  *
  * BUCKET-COUNT RESOLUTION: a lake's count is PINNED by the constructor
  * arg or the `spark.graft.buckets` conf; a pinned lake gives every NEW
  * table that count. An unpinned lake SIZES each new table instead: the
  * first bucketed append into a table with no layout record reads the
  * increment's known leaf bytes ([[Tables.estBytesKnown]]) and gives the
  * table 1 bucket below `spark.graft.probePrune.minBytes` (the size under
  * which its probes scan it whole anyway), and [[Lake.DefaultBuckets]] at
  * or above it or when the size is unknown (a streaming micro-batch).
  * [[compact]] re-sizes a sized table from its generation's bytes by the
  * same rule, so a table moves to 16 buckets at the first compaction after
  * it crosses the gate. Each decision is one DEBUG line on this class's
  * logger, `graft.core.Lake`: `<site>(<layer>.<table>) knownBytes=<n|unknown>
  * gate=<bytes> buckets=<n>`. Existing bucketed tables carry their count
  * in a [[TableLayout]] record (`_graft_table.json`) inside the generation
  * it describes, so one commit marker publishes data AND layout. All
  * bucket-coupled operations (pruned probes, bucketed appends, point
  * lookups) resolve the count from the record, so a session-conf drift
  * can no longer mis-prune silently — for a pinned record it is noted once
  * per table on stderr and the persisted count governs. [[rebucket]] is
  * the explicit way to change a table's count, and it pins the count.
  */
final class Lake(val spark: SparkSession, val root: String, buckets: Int = Lake.FromConf) {

  /** True when this lake's bucket count is pinned: a `buckets` constructor
    * arg or the `spark.graft.buckets` conf. An unpinned lake sizes each new
    * table (class doc). */
  val bucketsPinned: Boolean =
    buckets != Lake.FromConf || spark.conf.getOption(Lake.BucketsKey).isDefined

  /** The pinned bucket count, or [[Lake.DefaultBuckets]] on an unpinned
    * lake — the count an unpinned lake gives a table of unknown or large
    * size (see class doc for resolution; existing tables' layout records
    * govern themselves). Validated here so a malformed conf or a
    * 0/negative count fails at lake construction with the offending key
    * named, not later inside pmod/repartition with an opaque arithmetic
    * error. */
  val bucketCount: Int = {
    val resolved =
      if (buckets != Lake.FromConf) buckets
      else spark.conf.getOption(Lake.BucketsKey).map { v =>
        try v.trim.toInt
        catch {
          case _: NumberFormatException => throw new IllegalArgumentException(
            s"${Lake.BucketsKey} must be a positive integer, got '$v'")
        }
      }.getOrElse(Lake.DefaultBuckets)
    require(resolved > 0,
      s"Lake bucket count must be > 0, got $resolved " +
        s"(constructor arg or ${Lake.BucketsKey})")
    resolved
  }

  def tablePath(layer: String, name: String): String = s"$root/$layer/$name"

  /** True when the table has a committed generation. */
  def exists(layer: String, name: String): Boolean = resolution(layer, name).isDefined

  private def fsOf(p: Path): org.apache.hadoop.fs.FileSystem =
    p.getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** Fully-qualified table path — the key every JVM-wide per-table registry
    * (resolution cache, compaction claims, drift notes) uses. Two Lake
    * instances can spell one directory differently ("/data/lake" vs
    * "file:/data/lake/", a scheme-qualified vs a relative root); Hadoop
    * resolves them to the same place — so the cache keys must too, or
    * instance A's compact would invalidate only A's spelling and B would
    * keep serving the superseded generation (and plain-append INTO it)
    * indefinitely.
    * makeQualified is pure path arithmetic: no filesystem RPC. */
  private def qualifiedKey(layer: String, name: String): String = {
    val p = new Path(tablePath(layer, name))
    fsOf(p).makeQualified(p).toString
  }

  /** Generation number of a `gen-N` directory name, None for anything else. */
  private def genNumber(p: Path): Option[Long] =
    if (p.getName.startsWith(Lake.GenPrefix))
      p.getName.stripPrefix(Lake.GenPrefix).toLongOption.filter(_ > 0)
    else None

  /** The table root's entries and its COMMITTED generations (those whose
    * `_graft_committed` marker exists), ascending. Cost: one listStatus of
    * the root plus one exists per generation dir (≤ 2 in steady state).
    * The root holds only `gen-N` dirs and the compaction claim; any other
    * entry (flat parquet files, `hk_bucket=` dirs, `_gen-N` dirs or a root
    * layout record) was written by graft's older layout and is refused,
    * never read as absent — an [[overwrite]] (initVault's ensure) would
    * otherwise delete its data. */
  private def generations(
      fs: org.apache.hadoop.fs.FileSystem, root: Path): (Array[org.apache.hadoop.fs.FileStatus], Array[(Long, Path)]) = {
    if (!fs.exists(root)) return (Array.empty, Array.empty)
    val entries = fs.listStatus(root)
    entries.find(s => !(s.isDirectory && genNumber(s.getPath).isDefined) &&
        !(s.isFile && s.getPath.getName == Lake.CompactClaim))
      .foreach { s =>
        throw new DvException(DvError.Configuration(
          s"$root holds ${s.getPath.getName}, which is neither a ${Lake.GenPrefix}N generation " +
            s"directory nor the ${Lake.CompactClaim} claim: the table was written in graft's " +
            s"older layout, which has no migration. Rewrite it into a new lake (read its data " +
            s"with Spark, append through a Lake)."))
      }
    val committed = entries.iterator
      .filter(_.isDirectory)
      .flatMap(s => genNumber(s.getPath).map(_ -> s.getPath))
      .filter { case (_, p) => fs.exists(new Path(p, Lake.CommitMarker)) }
      .toArray.sortBy(_._1)
    (entries, committed)
  }

  /** (data dir, layout record) of the table's current generation, None
    * when it has none. Positive results are cached JVM-wide per table —
    * resolution sits on the hottest paths (a streaming foreachBatch reads
    * and appends per micro-batch), each a driver metadata RPC on a remote
    * store. A generation commit drops it ([[refresh]]), and so does taking
    * a flow or load claim; an append into the current generation moves
    * neither the generation nor its layout record, so it keeps it. Within
    * the single-writer-per-table contract the cache is coherent; a table
    * compacted by ANOTHER process keeps serving the superseded (retained)
    * generation to this JVM until a local generation commit or claim. */
  private def resolution(layer: String, name: String): Option[Lake.Resolution] =
    Option(Lake.resolutionCache.computeIfAbsent(qualifiedKey(layer, name), _ => {
      val rootP = new Path(tablePath(layer, name))
      val fs = fsOf(rootP)
      generations(fs, rootP)._2.lastOption
        .map { case (_, dir) => Lake.Resolution(dir.toString, readLayout(fs, dir)) }
        .orNull // computeIfAbsent records no mapping for null
    }))

  /** The directory holding the table's CURRENT data, its highest committed
    * generation (`{table}/gen-N/`). All lake reads and appends resolve
    * through this, so a compaction's generation swap is invisible to
    * callers; external engines reading a lake table should read this
    * directory. Fails with a typed Entity error when the table does not
    * exist. Cached per table ([[resolution]]). */
  def dataPath(layer: String, name: String): String =
    resolution(layer, name).map(_.dataDir).getOrElse(throw new DvException(DvError.Entity(
      s"$layer.$name does not exist: no committed generation under ${tablePath(layer, name)}")))

  /** The [[TableLayout]] record governing this table, None for absent tables
    * and tables never bucket-appended. */
  def tableLayout(layer: String, name: String): Option[TableLayout] =
    resolution(layer, name).flatMap(_.layout)

  /** The bucket count in force FOR THIS TABLE: its layout record's count
    * when present (authoritative — survives session-conf drift), else this
    * lake's [[bucketCount]]. Every bucket-coupled operation resolves
    * through here. */
  def tableBuckets(layer: String, name: String): Int =
    tableLayout(layer, name).map(_.bucketCount).getOrElse(bucketCount)

  def read(layer: String, name: String): DataFrame =
    spark.read.parquet(dataPath(layer, name))

  /** Read, or an empty frame of `schema` when the table doesn't exist yet.
    *
    * The EXPECTED schema is imposed on the scan — the schema-evolution
    * contract: a column added to satellite metadata after earlier appends
    * is absent from the old part files, and the parquet reader
    * null-backfills it per file, so an evolved satellite reads with the
    * new column as NULL history instead of silently dropping it. This is
    * also cheaper than `mergeSchema` (no footer-merge job over every part
    * file — at 100 TB that job is a full listing + footer read), and it
    * keeps the column set stable: on-disk extras like the `hk_bucket`
    * partition column are simply not part of the imposed schema. Columns
    * REMOVED from metadata while still on disk are likewise dropped here;
    * history stays in the files. */
  def readOr(layer: String, name: String, schema: StructType): DataFrame =
    resolution(layer, name).map { r =>
      // The select drops DISCOVERED partition columns (hk_bucket): a
      // user-specified schema governs data columns, but partition
      // discovery still appends directory-derived ones.
      spark.read.schema(schema).parquet(r.dataDir)
        .select(schema.fieldNames.map(col).toIndexedSeq: _*)
    }.getOrElse(
      // empty LOCAL relation, not an empty RDD: a LogicalRDD's stats are the
      // defaultSizeInBytes SENTINEL, so every plan built over an
      // absent-table probe (a first flow load, a stream's batch 0)
      // claimed Long.MaxValue-ish input — Tables.clusterParts then sized
      // the delta load's exchange to the 4-wave cap (128 tasks for a
      // 15k-row micro-batch) and estBytesKnown-gated sites
      // saw "unknown". A LocalRelation reports its true 0 bytes, and the
      // optimizer's PropagateEmptyRelation can collapse joins against it
      // outright — the correct first-batch plan.
      spark.createDataFrame(java.util.Collections.emptyList[org.apache.spark.sql.Row](), schema))

  /** [[readOr]] for INCREMENTAL-LOAD probes: the existing-table side of a
    * hub/link anti-join or a satellite DELTA probe only matters where its
    * key also appears in the staged batch, and a key's bucket is a pure
    * function of the key — so the probe scan can be pruned to the staged
    * batch's `hk_bucket` partitions with identical load results. That is
    * the payoff the bucketed layout exists for: per-micro-batch probe cost
    * follows the BATCH's bucket span, not the vault's size — at 100 TB the
    * difference between an incremental load and a full-vault scan per
    * batch.
    *
    * Size-gated like the skew guard (`spark.graft.probePrune.minBytes` on
    * real leaf bytes): under the gate the full scan is cheaper than the
    * extra driver action that computes the staged bucket set, so
    * bench/test-scale plans are bit-identical to [[readOr]]; above it the
    * bucket set is one tiny distinct-collect over the staged keys
    * (bounded by the table's bucket count). A batch spanning every bucket
    * falls back to the unpruned scan, and a one-bucket table (a sized
    * table until the compaction that re-sizes it) returns the unpruned
    * scan without the job, whose only possible answer would be that one
    * bucket. NOT for delete detection
    * (DvOps.satDeleteRows): there the ABSENT keys are the signal, and
    * pruning would mass-delete the unscanned buckets. Bucket derivation
    * uses the TABLE's persisted count ([[tableBuckets]]), so a
    * session-conf drift cannot mis-prune. */
  def readOrProbe(
      layer: String, name: String, schema: StructType,
      staged: DataFrame, stagedKey: org.apache.spark.sql.Column): DataFrame = {
    val full = readOr(layer, name, schema)
    if (!exists(layer, name)) return full
    val known = Tables.estBytesKnown(full)
    val engaged = known.exists(_ >= Confs.probePruneMinBytes(spark.conf))
    SkewGuard.logGate(s"readOrProbe($layer.$name)", engaged, known)
    if (!engaged) return full
    val n = tableBuckets(layer, name)
    if (n == 1) return full
    val buckets = staged.select(bucketOfN(stagedKey, n).as("__b")).distinct()
      .collect().map(_.getLong(0))
    if (buckets.length >= n) return full
    val raw = spark.read.schema(schema).parquet(dataPath(layer, name))
    // The partition column only exists once a bucketed append has
    // landed: a table pre-created by initVault holds one empty part
    // file and no partition dir, and filtering an undiscovered column is
    // an analysis error, not a no-op — fall back to the unpruned scan
    // (a forced-open gate is the only way here before first data).
    if (!raw.columns.contains("hk_bucket")) full
    else raw
      // predicate on the DISCOVERED partition column, applied before
      // the imposed-schema select drops it — evaluated driver-side by
      // the file index, so only the staged buckets' files are read
      // (ProbePruneSpec pins inputFiles shrink + result equality)
      .filter(col("hk_bucket").cast("long").isin(buckets.map(java.lang.Long.valueOf): _*))
      .select(schema.fieldNames.map(col).toIndexedSeq: _*)
  }

  /** Lazy recursive iterator of the parquet leaf FileStatuses under `p` —
    * THE tree walk every lake metadata operation shares (compact's count +
    * per-bucket bytes, the staged and source-unchanged checks, expire's
    * orphan check). ONE listStatus per directory, reusing its FileStatus
    * entries for the isDirectory/size checks: a per-entry getFileStatus
    * re-fetch is one extra filesystem RPC per file, a real metadata cost on
    * remote stores. Callers guard `p`'s existence — inner directories came
    * from a parent listStatus, so re-checking them would pay one extra RPC
    * per directory. Laziness lets any-parquet probes short-circuit at the
    * first leaf. */
  private def parquetLeaves(
      fs: org.apache.hadoop.fs.FileSystem, p: Path): Iterator[org.apache.hadoop.fs.FileStatus] =
    fs.listStatus(p).iterator.flatMap { s =>
      if (s.isDirectory) parquetLeaves(fs, s.getPath)
      else if (s.getPath.getName.endsWith(".parquet")) Iterator.single(s)
      else Iterator.empty
    }

  private def dropResolution(layer: String, name: String): Unit =
    Lake.resolutionCache.remove(qualifiedKey(layer, name))

  /** Every mutating lake operation ends here: fires [[onWrite]], and when
    * the write `committed` a generation drops the table's cached
    * [[resolution]] (an append or an expire leaves the current generation
    * and its layout record as they were). Nothing is re-listed: the next
    * reader after a commit resolves and lists afresh, and Spark's own write
    * command already re-caches any cached plan over the directory it wrote. */
  private def refresh(layer: String, name: String, committed: Boolean): Unit = {
    if (committed) dropResolution(layer, name)
    onWrite(layer, name, committed)
  }

  /** Invoked with (layer, name, committed) after every write: an append
    * into the current generation and an expire that deleted data
    * (committed = false), or a generation commit — a table's first write,
    * overwrite, compact, rebucket (committed = true). The Graft facade,
    * which creates every catalog name over the lake, drops those names'
    * cached relations here and re-registers `dv.<table>` only on a
    * commit. Must not throw. */
  private[graft] var onWrite: (String, String, Boolean) => Unit = (_, _, _) => ()

  /** Truncate-and-load under the table's compaction claim: deletes the
    * table's generations, then commits `df` as generation 1 with no layout
    * record (engine paths only overwrite staging/metadata tables, which are
    * never bucketed). A crash mid-write leaves the table absent, never
    * partially written. An empty `df` still commits: the table reads 0 rows.
    * Refused before anything is deleted: an older-layout root, and (as by
    * Spark's own overwrite) a `df` that reads this table. */
  def overwrite(df: DataFrame, layer: String, name: String): Unit = {
    resolution(layer, name).foreach(r => org.apache.spark.sql.execution.command.DDLUtils
      .verifyNotReadPath(df.queryExecution.analyzed, new Path(r.dataDir)))
    val root = new Path(tablePath(layer, name))
    val fs = fsOf(root)
    withCompactionClaim(layer, name, "overwrite") {
      generations(fs, root)._1.filter(_.isDirectory).foreach(s => fs.delete(s.getPath, true))
      dropResolution(layer, name)
      commitGeneration(layer, name, 1L, None, s"overwrite($layer.$name)")(writeParquet(df, _, Nil))
    }
  }

  /** Plain (non-bucketed) append — the runinfo ledger's write path. Lands
    * in the current generation like every append, so a compacted ledger
    * keeps its new rows; a table with no generation gets `df` as
    * generation 1. */
  def append(df: DataFrame, layer: String, name: String): Unit =
    writeTable(df, layer, name, resolution(layer, name), Nil, None, commitEmpty = true)

  /** Writes `df` into the table's current generation `res`, or — for a
    * table with none — commits it as generation 1 with `layout`; an empty
    * first write commits only when `commitEmpty`. Returns (rows, files). */
  private def writeTable(
      df: DataFrame, layer: String, name: String, res: Option[Lake.Resolution],
      partitionColumns: Seq[String], layout: Option[TableLayout], commitEmpty: Boolean): (Long, Long) =
    res match {
      case Some(r) =>
        val written = writeParquet(df, r.dataDir, partitionColumns)
        refresh(layer, name, committed = false)
        written
      case None =>
        commitGeneration(layer, name, 1L, layout, s"append($layer.$name)", commitEmpty = commitEmpty)(
          writeParquet(df, _, partitionColumns))
    }

  private def bucketOfN(keyCol: Column, n: Int): Column =
    pmod(xxhash64(keyCol), lit(n))

  /** The size rule of an unpinned lake (class doc): 1 bucket below
    * `spark.graft.probePrune.minBytes` known bytes, [[Lake.DefaultBuckets]]
    * at or above it or when `bytes` is unknown. One DEBUG line per
    * decision, naming the `site` and the table. */
  private def sizedBuckets(site: String, layer: String, name: String, bytes: Option[BigInt]): Int = {
    val gate = Confs.probePruneMinBytes(spark.conf)
    val n = if (bytes.exists(_ < gate)) 1 else Lake.DefaultBuckets
    if (Lake.log.isDebugEnabled)
      Lake.log.debug(s"$site($layer.$name) knownBytes=${bytes.getOrElse("unknown")} gate=$gate buckets=$n")
    n
  }

  /** Deterministic bucket of a key value under THIS LAKE's
    * [[bucketCount]] — the derivation [[appendBucketed]] writes a pinned
    * lake's NEW tables with (an unpinned lake sizes them). For an existing
    * table prefer [[tableBucketOf]], which resolves the table's own
    * persisted count. */
  def bucketOf(keyCol: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    bucketOfN(keyCol, bucketCount)

  /** [[bucketOf]] under the TABLE's persisted bucket count — the derivation
    * that matches the table's on-disk partitions regardless of session
    * conf. */
  def tableBucketOf(layer: String, name: String, keyCol: Column): Column =
    bucketOfN(keyCol, tableBuckets(layer, name))

  private def bucketOfValueN(value: String, n: Int): Long = {
    import org.apache.spark.sql.catalyst.expressions.{Literal, XxHash64}
    val h = XxHash64(
      Seq(Literal(org.apache.spark.unsafe.types.UTF8String.fromString(value))),
      42L // the xxhash64() SQL function's fixed seed — must match bucketOf
    ).eval(null).asInstanceOf[Long]
    Math.floorMod(h, n.toLong)
  }

  /** Driver-side bucket of a literal key under this lake's count — same
    * XxHash64 codepath Spark executes, evaluated without launching a job. */
  def bucketOfValue(value: String): Long = bucketOfValueN(value, bucketCount)

  /** Once-per-table stderr note when a pinned layout record's bucket count
    * differs from this lake's configured count: not an error (the record
    * governs, results stay correct), but drift usually means a
    * misconfigured session and the operator should know. A sized record's
    * count follows the table's size, not configuration, so it never
    * drifts. */
  private def noteDrift(layer: String, name: String, lo: TableLayout): Unit =
    if (!lo.sized && lo.bucketCount != bucketCount && Lake.notedDrift.add(qualifiedKey(layer, name)))
      Console.err.println(
        s"[graft] NOTE: $layer.$name was written with ${lo.bucketCount} buckets (layout " +
          s"record) but this session's Lake is configured for $bucketCount — the table's " +
          s"persisted count governs its probes/appends/lookups. Use Lake.rebucket to change " +
          s"a table's bucket count.")

  /** Append a vault increment partitioned by hash-key-prefix bucket. The
    * bucket is a deterministic function of the key AND the table's
    * persisted bucket count, so co-located reads and bucket pruning
    * survive any number of appends and any session-conf drift. A table's
    * first bucketed append commits generation 1 with its layout record; a
    * committed table without one (created by [[overwrite]], as initVault's
    * empty vault tables are) gets the record before its first bucketed
    * data. So no generation holds `hk_bucket=` data without a record. An
    * append bucketing on a different KEY COLUMN than the record's fails
    * loudly — two derivations over one table would scatter keys.
    *
    * The record's count is this lake's pinned count, or on an unpinned
    * lake the size rule's (class doc) over the increment's known leaf
    * bytes: a daily increment into a small table writes one file, not one
    * per bucket. Known limit: until the compaction that re-sizes it, a
    * one-bucket table takes every append in one write task, so a
    * multi-GB increment into a table that started small writes in one
    * task; a deployment that loads such increments pins a count.
    *
    * The write is hash-exchanged on the bucket column first: `partitionBy`
    * alone makes every upstream task open a file per bucket it happens to
    * hold, so the file count scales with exchange width × buckets (measured
    * 4×: AQE-wide upstream plans turned each micro-batch append into
    * thousands of KB-sized files). Each bucket value hashes to exactly one
    * reduce partition, and the writer opens one file per bucket within its
    * task, so an append writes exactly one file per non-empty bucket — the
    * invariant compaction and probe pruning rely on. The exchange names no
    * partition count, so AQE may coalesce it: merging whole partitions keeps
    * every bucket in one task, and a small delta is written by one or a few
    * tasks instead of one per bucket (each write task pays a fixed cost,
    * mostly deserializing the job's Hadoop configuration: a 300-row append
    * took 1.05–1.18 CPU-s with 16 writers, 0.48–0.56 coalesced, on 4
    * cores). A large increment keeps up to min(bucket count, shuffle
    * partitions) writers, because AQE merges only partitions below its
    * advisory size. Not `rebalance`: it splits skewed partitions, which
    * would put one bucket in several files.
    *
    * Returns the rows written, read from the write command's own metrics
    * ([[writeParquet]]): no listing, no footer read, and the same count a
    * footer sum over the new files gives (ScratchSpec checks that on every
    * counted append).
    *
    * Read-own-target safety (the increment plan typically SCANS this same
    * table — the satellite delta probes existing history) rests on the
    * LISTING-SNAPSHOT invariant, pinned by ScratchSpec "self-reading
    * uncounted append": the scan's file set is frozen in the
    * InMemoryFileIndex built when [[readOr]] resolved the relation —
    * driver-side, strictly BEFORE this write job starts — and the write
    * publishes new part files only at job commit (tasks write under
    * `_temporary`, never visible to a listing snapshot taken earlier). So
    * the scan reads exactly the pre-append files: no new-file double-read,
    * no deleted-file FILE_NOT_EXIST. The one hazard is an increment built
    * from a STALE DataFrame (resolved before an intervening append by a
    * concurrent writer) — out of scope: the lake's single-writer-per-table
    * contract (one flow executor or streamFlow query per table).
    *
    * An empty increment appended to an existing table writes no part files
    * (per-partition writers skip empty tasks) and is harmless; an empty
    * FIRST append commits nothing and deletes its staged generation, so
    * the table stays absent. */
  def appendBucketed(df: DataFrame, layer: String, name: String, keyCol: String): Long = {
    val res = resolution(layer, name)
    val layout = res.flatMap(_.layout)
    layout.foreach { lo =>
      if (lo.keyCol != keyCol)
        throw new DvException(DvError.Configuration(
          s"appendBucketed($layer.$name): the table's layout record buckets on " +
            s"'${lo.keyCol}' but this append buckets on '$keyCol' — one table cannot " +
            s"carry two bucket derivations (pruned probes and lookups would miss keys)"))
      noteDrift(layer, name, lo)
    }
    val record = layout.getOrElse(
      if (bucketsPinned) TableLayout(bucketCount, keyCol, Nil)
      else TableLayout(sizedBuckets("appendBucketed", layer, name, Tables.estBytesKnown(df)),
        keyCol, Nil, sized = true))
    val n = record.bucketCount
    res.filter(_.layout.isEmpty).foreach { r =>
      val dir = new Path(r.dataDir)
      writeLayout(fsOf(dir), dir, record)
      dropResolution(layer, name)
    }
    val (rows, _) = writeTable(
      df.withColumn("hk_bucket", bucketOfN(col(keyCol), n)).repartition(col("hk_bucket")),
      layer, name, res, Seq("hk_bucket"), Some(record), commitEmpty = false)
    maybeExpireAged(layer, name)
    rows
  }

  /** Appends `df` as parquet under `dir` (partitioned by
    * `partitionColumns`) and returns (rows, files) written, read from the
    * write command's own metrics. It plans the write exactly as
    * `df.write.mode("append").partitionBy(...).parquet(dir)` does, but keeps
    * the executed plan: the `DataWritingCommandExec` in it carries
    * `numOutputRows` and `numFiles`, which Spark sets on the driver when the
    * write job commits, before this call returns — no listener, no bus
    * drain, and each call reads only its own write. */
  private def writeParquet(df: DataFrame, dir: String, partitionColumns: Seq[String]): (Long, Long) = {
    import org.apache.spark.sql.catalyst.plans.logical.CommandResult
    import org.apache.spark.sql.execution.command.DataWritingCommandExec
    val plan = org.apache.spark.sql.execution.datasources.DataSource(
      spark, "parquet", paths = Seq(dir), partitionColumns = partitionColumns)
      .planForWriting(org.apache.spark.sql.SaveMode.Append, df.queryExecution.analyzed)
    val qe = spark.sessionState.executePlan(plan)
    qe.assertCommandExecuted()
    val metrics = qe.commandExecuted
      .collectFirst { case r: CommandResult => r.commandPhysicalPlan }
      .flatMap(Lake.PlanWalk.collectFirst(_) { case w: DataWritingCommandExec => w.metrics })
      .getOrElse(throw new IllegalStateException(s"no write command in the executed plan of $dir"))
    (metrics("numOutputRows").value, metrics("numFiles").value)
  }

  // ---------------------------------------------------------------------
  // Layout record IO
  // ---------------------------------------------------------------------

  private def readLayout(fs: org.apache.hadoop.fs.FileSystem, dir: Path): Option[TableLayout] = {
    val p = new Path(dir, Lake.LayoutFile)
    if (!fs.exists(p)) None
    else {
      val in = fs.open(p)
      val bytes = try in.readAllBytes() finally in.close()
      try {
        val node = Lake.jsonMapper.readTree(bytes)
        val sortBy = Option(node.get("sortBy"))
          .map(a => (0 until a.size).map(a.get(_).asText).toSeq).getOrElse(Nil)
        val lo = TableLayout(node.get("bucketCount").asInt, node.get("keyCol").asText, sortBy,
          sized = Option(node.get("sized")).exists(_.asBoolean))
        require(lo.bucketCount > 0 && lo.keyCol.nonEmpty)
        Some(lo)
      } catch {
        case scala.util.control.NonFatal(e) =>
          // a corrupt record must fail LOUDLY: falling back to the session
          // count is the exact silent-mis-prune failure the record prevents
          throw new DvException(DvError.Configuration(
            s"unreadable table layout record $p — refusing to guess the bucket count " +
              s"(delete or fix the record to proceed)", Some(e)))
      }
    }
  }

  private def writeLayout(
      fs: org.apache.hadoop.fs.FileSystem, dir: Path, lo: TableLayout): Unit = {
    val json =
      s"""{"version":1,"bucketCount":${lo.bucketCount},"keyCol":${Json.str(lo.keyCol)},""" +
        s""""sortBy":[${lo.sortBy.map(Json.str).mkString(",")}]""" +
        (if (lo.sized) ""","sized":true}""" else "}")
    // overwrite=true: only written inside single-writer windows (a staged
    // generation, or a record-less table's first bucketed append)
    val out = fs.create(new Path(dir, Lake.LayoutFile), true)
    try out.write(json.getBytes("UTF-8")) finally out.close()
  }

  // ---------------------------------------------------------------------
  // Claims
  // ---------------------------------------------------------------------
  //
  // A claim is a marker file taken with create-no-overwrite. That is atomic
  // on HDFS and ABFS; the local FS's create is check-then-act, so a
  // JVM-wide registry ([[Lake.claims]]) arbitrates same-process races;
  // S3-class stores are capability-gated ([[Lake.gateClaimStore]]). The
  // reference gets the same exclusion from DuckDB's transactions. Five
  // kinds share the protocol below (README "Claims"):
  //   run-id      metadata/.run_ids/<id>                  permanent
  //   ingestion   metadata/.flow_claims/<source>__<sha1>  kept on success
  //   flow        metadata/.flow_claims/__flow__<source>  scoped, waits
  //   load        <layer>/.claims/<table>_graft_loading   scoped, waits
  //   compaction  <layer>/<table>/_graft_compacting       scoped, no wait
  // All but compaction's live in side dirs: truncate-and-load deletes a
  // table's dir, marker included.

  /** Run-id marker: one per run id ever allocated, never released. */
  private[graft] def runIdClaimPath(id: Long): Path =
    new Path(tablePath("metadata", ".run_ids"), f"$id%020d")

  /** Ingestion marker for one (source table, file); its body is the path. */
  private[graft] def ingestionClaimPath(sourceTable: String, filePath: String): Path = {
    val digest = java.security.MessageDigest.getInstance("SHA-1")
      .digest(filePath.getBytes("UTF-8")).map("%02x".format(_)).mkString
    new Path(tablePath("metadata", ".flow_claims"), s"${sourceTable}__$digest")
  }

  private[graft] def flowClaimPath(sourceTable: String): Path =
    new Path(tablePath("metadata", ".flow_claims"), s"__flow__$sourceTable")

  private[graft] def loadClaimPath(layer: String, name: String): Path =
    new Path(tablePath(layer, ".claims"), s"$name${Lake.LoadClaim}")

  private[graft] def compactClaimPath(layer: String, name: String): Path =
    new Path(tablePath(layer, name), Lake.CompactClaim)

  /** Take the claim marker `p`, writing `body` into it; false when another
    * holder has it. `kind` names the marker family in capability-gate
    * diagnostics. Any failure removes the registry entry (else a transient
    * error would block the marker in this JVM for good), and a failure
    * after our own create deletes our half-written marker (else it would
    * stand in for a holder that does not exist). */
  private[graft] def tryClaim(p: Path, kind: String, body: Array[Byte] = Array.emptyByteArray): Boolean = {
    val fs = fsOf(p)
    Lake.gateClaimStore(fs, spark.conf, kind) // before the registry insert: a throw leaves no entry
    val key = fs.makeQualified(p).toString // one key however a root is spelled (qualifiedKey)
    if (!Lake.claims.add(key)) return false
    try {
      fs.mkdirs(p.getParent)
      val out = fs.create(p, /* overwrite = */ false) // the atomic arbiter
      try {
        try out.write(body) finally out.close()
      } catch {
        case scala.util.control.NonFatal(e) =>
          scala.util.Try(fs.delete(p, false)) // our own half-claim, not a holder's
          throw e
      }
      true
    } catch {
      // the arbiter saw a holder's marker; it may be gone by now (its
      // holder releasing), so this is a refusal without an exists check
      case _: org.apache.hadoop.fs.FileAlreadyExistsException =>
        Lake.claims.remove(key)
        false
      case scala.util.control.NonFatal(e) =>
        Lake.claims.remove(key)
        if (scala.util.Try(fs.exists(p)).getOrElse(false)) false else throw e
    }
  }

  /** Release the claim marker `p` — also the operator's route for a marker
    * a crashed holder left. The registry entry goes first: if the delete
    * throws, later takes resolve through the marker still on disk (a typed
    * refusal, as for a crashed holder), not through a stale entry. */
  private[graft] def releaseClaim(p: Path): Unit = {
    val fs = fsOf(p)
    Lake.claims.remove(fs.makeQualified(p).toString)
    fs.delete(p, false)
    ()
  }

  /** Run `body` holding the claim at `p`. A held marker is retried for up
    * to `waitMs` (0 = one try), then refused with a typed Concurrency error
    * carrying `refusal`, which names the marker and its release route.
    * Reentrant per thread: a marker this thread already holds runs `body`
    * directly. `onAcquire` runs under a fresh take, before `body`. The
    * claim is released on every exit. */
  private[graft] def withClaim[A](
      p: Path, kind: String, waitMs: Long, refusal: => String,
      onAcquire: => Unit = ())(body: => A): A = {
    val key = fsOf(p).makeQualified(p).toString
    val held = Lake.heldClaims.get()
    if (held.contains(key)) return body
    val deadline = System.currentTimeMillis() + waitMs
    var claimed = tryClaim(p, kind)
    while (!claimed && System.currentTimeMillis() < deadline) {
      Thread.sleep(math.min(200L, waitMs))
      claimed = tryClaim(p, kind)
    }
    if (!claimed) throw new DvException(DvError.Concurrency(refusal))
    held += key
    try {
      onAcquire
      body
    } finally {
      held -= key
      releaseClaim(p)
    }
  }

  /** Claim the table for a generation-writing operation
    * (compact/rebucket/expire); false when another holds it. */
  def tryCompactionClaim(layer: String, name: String): Boolean =
    tryClaim(compactClaimPath(layer, name), "compaction")

  def releaseCompactionClaim(layer: String, name: String): Unit =
    releaseClaim(compactClaimPath(layer, name))

  /** Claim the table for one incremental LOAD (anti-join/delta probe +
    * append); false when another loader holds it. An incremental load's
    * dedup guarantee is "probe the existing keys, insert only the new
    * ones": two processes loading different files into one hub could both
    * probe before either appends and both insert a business key. Distinct
    * from the compaction claim on purpose: loads never block compaction
    * (its commit-time source-unchanged guard aborts it loudly if an append
    * lands mid-stage), and compaction never blocks loads. */
  def tryLoadClaim(layer: String, name: String): Boolean =
    tryClaim(loadClaimPath(layer, name), "load")

  def releaseLoadClaim(layer: String, name: String): Unit =
    releaseClaim(loadClaimPath(layer, name))

  /** Run one table's incremental load under its load claim. The claimed
    * span MUST cover probe CONSTRUCTION, not just the append: Spark pins a
    * scan's file listing when the DataFrame is built, so a probe built
    * before the previous loader released would anti-join against a listing
    * missing its rows even though the append itself came later. On acquire
    * the table's cached [[resolution]] is dropped, so the probe resolves
    * the generation another process may have committed and lists it fresh
    * — that is what makes the claim close the cross-process double-insert,
    * where the winner's own post-append drop only fixed its JVM. Waits
    * [[Confs.loadClaimWaitMillis]].
    * Cost when uncontended: one create + one delete of a marker file per
    * table per load — noise against the load's own jobs. */
  def withLoadClaim[A](layer: String, name: String, what: String)(body: => A): A =
    withLoaderClaim(loadClaimPath(layer, name), "load", s"$what($layer.$name)", (layer, name))(body)

  /** Per-source flow claim around a flow's staging + loads: staging is
    * truncate-and-load, so a second flow of the same source would swap the
    * data under the first flow's lazily-evaluated hash view. On acquire the
    * staging table's cached [[resolution]] is dropped, so a flow over a
    * table deleted or rewritten out of band fails typed or reads it fresh. */
  private[graft] def withFlowClaim[A](sourceTable: String)(body: => A): A =
    withLoaderClaim(flowClaimPath(sourceTable), "flow", s"executeFlow($sourceTable)", ("stg", sourceTable))(body)

  /** [[withClaim]] with the loaders' wait and refusal; on acquire drops the
    * cached resolution of `table` (layer, name). */
  private def withLoaderClaim[A](p: Path, kind: String, what: String, table: (String, String))(body: => A): A = {
    val waitMs = Confs.loadClaimWaitMillis(spark.conf)
    withClaim(p, kind, waitMs,
      s"$what: another loader holds the claim marker $p after ${waitMs} ms " +
        s"(${Confs.LoadClaimWaitMillisKey}) — a concurrent flow/stream is loading, or a " +
        s"crashed loader left a stale marker. Wait it out, raise the conf, or clear a " +
        s"stale marker (releaseLoadClaim for a table's ${Lake.LoadClaim}; delete the " +
        s"marker file otherwise).", dropResolution(table._1, table._2))(body)
  }

  private[graft] def withCompactionClaim[A](layer: String, name: String, what: String)(body: => A): A =
    withClaim(compactClaimPath(layer, name), "compaction", waitMs = 0L,
      s"$what($layer.$name): another compact/rebucket/overwrite/expireSuperseded holds this " +
        s"table's claim (${Lake.CompactClaim}) — concurrent generation writers would " +
        s"delete each other's staged data. If a crashed run left the claim behind, " +
        s"clear it with releaseCompactionClaim.")(body)

  /** Fail instead of committing when the SOURCE directory's parquet leaves
    * changed between the rewrite's input snapshot and the commit point —
    * the loud form of the one silent-loss hole the claim does not cover:
    * the claim arbitrates generation WRITERS (compact/rebucket/expire),
    * but a plain or bucketed APPEND never takes it, so an append landing
    * in the current generation while a compact is staging is invisible to
    * the rewrite (its file listing snapshotted earlier) — the marker would
    * commit a generation MISSING those rows and the next expire would
    * delete them with the superseded data. That is a violation of the
    * documented single-writer-per-table contract, but a violated contract
    * should fail the compaction, not silently drop committed rows (the
    * same posture as [[verifyStaged]]). One extra listing walk per
    * compact/rebucket, compared as (path, length, mtime) sets so an
    * appended, deleted, or rewritten file all trip it — mtime closes the
    * same-length in-place rewrite (an out-of-band same-size re-upload)
    * that a (path, length) key would wave through; the FileStatus already
    * carries it. A tiny window remains between this check and the marker
    * create — the guard converts the practically-hittable race into a
    * typed error, not a proof. */
  private def verifySourceUnchanged(
      fs: org.apache.hadoop.fs.FileSystem, srcDir: Path,
      snapshot: Array[org.apache.hadoop.fs.FileStatus], what: String): Unit = {
    def key(s: org.apache.hadoop.fs.FileStatus) =
      (s.getPath.toString, s.getLen, s.getModificationTime)
    val before = snapshot.map(key).toSet
    val now =
      try parquetLeaves(fs, srcDir).map(key).toSet
      catch {
        // a directory vanishing between the listing and the descent IS the
        // concurrent mutation this guard exists to catch — surface the
        // typed abort, not a raw FNFE with no contract diagnosis
        case e: java.io.FileNotFoundException =>
          throw new DvException(DvError.Concurrency(
            s"$what: the table's data changed while the rewrite was staging (a directory " +
              s"under $srcDir vanished mid-listing) — a concurrent writer or cleaner is " +
              s"active, violating the single-writer-per-table contract. Aborting; re-run " +
              s"once the other writer is done.", Some(e)))
      }
    if (before != now) {
      val appeared = (now -- before).size; val vanished = (before -- now).size
      throw new DvException(DvError.Concurrency(
        s"$what: the table's data changed while the rewrite was staging " +
          s"($appeared file(s) appeared, $vanished vanished under $srcDir) — a concurrent " +
          s"writer appended during the compaction, violating the single-writer-per-table " +
          s"contract. Committing would silently drop those rows when the superseded " +
          s"generation expires; aborting instead. Re-run once the other writer is done."))
    }
  }

  /** Fail instead of committing when the staged generation's data did not
    * survive to the commit point: the marker create would otherwise commit
    * an EMPTY generation, and the next expire would delete all real data as
    * superseded (defense-in-depth under the claim). */
  private def verifyStaged(
      fs: org.apache.hadoop.fs.FileSystem, staged: Path, what: String): Unit = {
    val ok = fs.exists(staged) &&
      (fs.exists(new Path(staged, "_SUCCESS")) || parquetLeaves(fs, staged).hasNext)
    if (!ok) throw new DvException(DvError.Etl(
      s"$what: staged generation $staged vanished (or wrote nothing) before the commit " +
        s"marker — refusing to commit an empty generation over live data. A concurrent " +
        s"expireSuperseded/compact is the usual cause; both are claim-gated, so check for " +
        s"an out-of-band delete."))
  }

  // ---------------------------------------------------------------------
  // Compact / rebucket / expire
  // ---------------------------------------------------------------------

  /** Within-write-task sort for generation rewrites. The sort MUST lead
    * with the partition column: the V1 partitionBy write requires its
    * output ordered by partition columns and inserts its OWN (non-stable)
    * sort when the child's ordering doesn't already satisfy that — which
    * would silently scramble the sortBy order the caller asked for (measured
    * on the as-of bench). Leading with hk_bucket makes the child ordering
    * a superset of the writer's requirement, so no extra sort is inserted
    * and the within-file order survives. */
  private def sortedWithin(d: DataFrame, sortBy: Seq[String]): DataFrame =
    if (sortBy.isEmpty) d
    else {
      val keys = if (d.columns.contains("hk_bucket")) "hk_bucket" +: sortBy else sortBy
      d.sortWithinPartitions(keys.map(col): _*)
    }

  /** A bucketed rewrite's write frame: each bucket split into `chunks`
    * (per row) cells on a deterministic row hash, one exchange on (bucket,
    * chunk) into `cells` tasks, sorted within each by `sortBy`. The cell
    * count is explicit, unlike [[appendBucketed]]'s exchange, so AQE never
    * coalesces it: merging two cells of one bucket would put two chunks in
    * one file and break the per-file size cap the chunk count sets. */
  private def chunked(df: DataFrame, chunks: Column, cells: Int, sortBy: Seq[String]): DataFrame = {
    val dataCols = df.columns.filterNot(_ == "hk_bucket").toIndexedSeq.map(col)
    sortedWithin(
      df.withColumn("__chunk", pmod(xxhash64(dataCols: _*), chunks))
        .repartition(cells, col("hk_bucket"), col("__chunk")), sortBy)
      .drop("__chunk")
  }

  /** The commit routine of every generation writer (a table's first write,
    * [[overwrite]], [[compact]], [[rebucket]]): stages `{table}/gen-n/`
    * (replacing a crashed writer's uncommitted leftover), writes the layout
    * record, then the data through `write`. A rewrite's `source` (current
    * dir + the leaves it read) gets [[verifySourceUnchanged]]. THE COMMIT
    * is the create of `gen-n/_graft_committed`: one small-object write,
    * atomic on every store (HDFS create, S3-class PUT, local FS; no rename,
    * which on S3 is copy+delete), so a reader sees the old generation or
    * the new one, never an absent or mixed table. With `commitEmpty` false
    * a write of 0 files commits nothing. Returns `write`'s (rows, files). */
  private def commitGeneration(
      layer: String, name: String, n: Long, layout: Option[TableLayout], what: String,
      source: Option[(Path, Array[org.apache.hadoop.fs.FileStatus])] = None,
      commitEmpty: Boolean = true)(write: String => (Long, Long)): (Long, Long) = {
    val staged = new Path(tablePath(layer, name), s"${Lake.GenPrefix}$n")
    val fs = fsOf(staged)
    fs.delete(staged, true)
    layout.foreach(writeLayout(fs, staged, _))
    val written = write(staged.toString)
    if (written._2 == 0L && !commitEmpty) {
      fs.delete(staged, true)
      return written
    }
    source.foreach { case (dir, leaves) =>
      Lake.beforeCommitHook(s"$layer.$name")
      // a concurrent append mid-staging would be silently dropped by this
      // commit — abort loudly instead (contract-violation detection)
      verifySourceUnchanged(fs, dir, leaves, what)
    }
    verifyStaged(fs, staged, what)
    fs.create(new Path(staged, Lake.CommitMarker), /* overwrite = */ false).close()
    refresh(layer, name, committed = true)
    written
  }

  /** Compact a table: every bucketed append adds a part file per non-empty
    * bucket, and a long-lived vault accumulates small files (the classic
    * 100 TB lake operations problem). Rewrites each bucket into
    * ~`spark.graft.compact.targetBytes`-sized files (one file while the
    * bucket fits under the target) as the NEXT GENERATION, committed by
    * [[commitGeneration]] — readers never observe a half-compacted (mixed
    * old/new) table, and never a missing one. The layout record is carried
    * into the new generation (with the rewrite's sort). Returns (files
    * before, files after).
    *
    * RE-SIZING: a SIZED table (layout record `sized`, written by an
    * unpinned lake) gets the size rule's count (class doc) over the
    * generation's leaf bytes; when that differs from its count, the
    * rewrite is [[rebucket]]'s at the new count, under the same claim and
    * commit, and the record stays sized. A pinned record keeps its count.
    *
    * CLAIM: the whole operation runs under the table's compaction claim, so
    * a second concurrent compact/rebucket/expire gets a typed Concurrency
    * refusal instead of deleting this one's staged generation. A hard
    * crash leaves the claim behind — clear it with [[releaseCompactionClaim]].
    *
    * RETENTION: the previous generation is kept until the NEXT compaction
    * (the expire pass runs at compact start), so a reader that resolved
    * its file listing just before the commit can finish its scan.
    * Steady-state cost: ≤ 2× table storage between compactions. Reclaim
    * earlier either by POLICY (`spark.graft.gen.retainMillis` ≥ 0: any
    * compact/rebucket/bucketed-append deletes data superseded for at
    * least that long — size the window to the longest reader) or by an
    * explicit [[expireSuperseded]] call once in-flight readers are known
    * drained. With retainMillis set, the compact-start expire ALSO
    * respects the window (young superseded generations survive a rapid
    * re-compact). A catalog table registered at [[dataPath]] must follow
    * the swap ([[onWrite]]).
    *
    * `sortBy`: optional within-chunk sort columns for the rewrite. Vault
    * satellites pass (hk, load_dts): as-of queries filter `load_dts` over
    * the full history, and parquet row-group stats only prune when rows
    * are clustered on the filtered column within each file — unsorted
    * compaction output interleaves load_dts ranges across row groups and
    * defeats min/max pruning. Sorting inside each (bucket, chunk) write
    * task costs one spillable sort per task and changes no result.
    *
    * The size cap matters at production bucket sizes: one-file-per-bucket
    * makes compaction a single-task multi-GB write per bucket (wall time =
    * largest bucket, straggler re-run = re-writing it whole). Oversized
    * buckets split on a deterministic row-hash chunk column —
    * `ceil(bucketBytes / target)` chunks per bucket, sized driver-side
    * from the SAME listing the file count walks — and the staged write
    * exchanges once on (bucket, chunk), so write parallelism follows data
    * volume, not bucket count. Hash placement can co-locate two chunk
    * cells in one task (the cells-per-partition birthday term; the write
    * then emits one ~2×-target file) — the cap is a parallelism/restart
    * bound, not an exact packing, and the one-exchange append invariant
    * ([[appendBucketed]]) is untouched. */
  def compact(layer: String, name: String, sortBy: Seq[String] = Nil): (Long, Long) =
    rewrite(layer, name, "compact") { (df, layout, leaves) =>
      val recorded = layout.map(lo => if (sortBy.nonEmpty) lo.copy(sortBy = sortBy) else lo)
      val resized = recorded.filter(_.sized).flatMap { lo =>
        val n = sizedBuckets("compact", layer, name, Some(BigInt(leaves.iterator.map(_.getLen).sum)))
        if (n != lo.bucketCount) Some(lo.copy(bucketCount = n)) else None
      }
      if (resized.isDefined) rebucketed(layer, name, df, resized.get, leaves)
      else if (df.columns.contains("hk_bucket")) {
        val target = Confs.compactTargetBytes(spark.conf)
        // per-bucket compressed bytes from the SAME leaves the file count
        // walked (a leaf's bucket = its parent dir's hk_bucket= value); an
        // empty bucket dir is simply absent and falls to the coalesce(…, 1)
        // default below.
        val chunksOf: Map[Long, Int] = leaves.iterator
          .flatMap { s =>
            val dir = s.getPath.getParent.getName
            if (dir.startsWith("hk_bucket="))
              dir.stripPrefix("hk_bucket=").toLongOption.map(_ -> s.getLen)
            else None
          }
          .toSeq.groupMapReduce(_._1)(_._2)(_ + _)
          .map { case (b, bytes) =>
            b -> math.max(1L, (bytes + target - 1) / target).min(1L << 16).toInt
          }
        val totalChunks = chunksOf.values.map(_.toLong).sum
          .max(1L).min(1L << 20).toInt
        // chunk = row-hash mod the bucket's OWN chunk count (a tiny literal
        // map — bucket counts are configuration-scale, not data-scale), so
        // single-chunk buckets keep one file and only oversized ones split.
        // coalesce: a bucket value absent from the driver listing (directory
        // race, unexpected partition value) would make element_at NULL and
        // silently collapse that bucket to a single repartition cell —
        // deterministically give an unmapped bucket one chunk instead.
        val chunks = coalesce(element_at(typedLit(chunksOf), col("hk_bucket").cast("long")), lit(1))
        (chunked(df, chunks, totalChunks, sortBy), Seq("hk_bucket"), recorded)
      }
      // inputFiles length instead of df.rdd.getNumPartitions (the latter
      // materializes the physical RDD driver-side); compaction targets ~8
      // input files per output file.
      else (sortedWithin(df.coalesce(math.max(1, df.inputFiles.length / 8)), sortBy), Nil, recorded)
    }

  /** Rewrite a bucketed table at a NEW bucket count, as a committed
    * generation — the explicit way to change a table's bucket count (the
    * other is [[compact]] re-sizing a sized table). The new count is
    * pinned: the record drops `sized`, and later compactions keep it. A
    * 16-bucket vault that grows 100× otherwise keeps
    * multi-TB-granularity probe pruning forever: bucket span is the unit
    * of probe/lookup cost, so the count must be able to
    * follow data volume. Same claim, staging, verify-then-marker commit,
    * and retention posture as [[compact]]; the staged generation's layout
    * record carries the new count, so the one marker create atomically
    * republishes data + layout, and concurrent readers of the old
    * generation are unaffected (their files persist one retention cycle).
    *
    * `keyCol` defaults to the layout record's key; a table without a record
    * (plain-appended) must pass it explicitly. Output files are size-capped
    * like compact's (uniform chunk estimate — hash keys spread bytes
    * evenly across the new buckets). Returns (files before, files after). */
  def rebucket(
      layer: String, name: String, newBuckets: Int,
      keyCol: Option[String] = None, sortBy: Seq[String] = Nil): (Long, Long) = {
    require(newBuckets > 0, s"rebucket($layer.$name): newBuckets must be > 0, got $newBuckets")
    rewrite(layer, name, "rebucket") { (df, layout, leaves) =>
      val key = keyCol.orElse(layout.map(_.keyCol)).getOrElse(
        throw new DvException(DvError.Configuration(
          s"rebucket($layer.$name): the table has no layout record to take the bucket " +
            s"key from (it was never bucket-appended) — pass keyCol explicitly")))
      val effSort = if (sortBy.nonEmpty) sortBy else layout.map(_.sortBy).getOrElse(Nil)
      rebucketed(layer, name, df, TableLayout(newBuckets, key, effSort), leaves)
    }
  }

  /** [[rewrite]]'s plan for a table re-derived at the bucket count and key
    * of `layout`, the new generation's record: [[rebucket]]'s, and
    * [[compact]]'s when it re-sizes a sized table. */
  private def rebucketed(
      layer: String, name: String, df0: DataFrame, layout: TableLayout,
      leaves: Array[org.apache.hadoop.fs.FileStatus]): (DataFrame, Seq[String], Option[TableLayout]) = {
    val TableLayout(newBuckets, key, sortBy, _) = layout
    if (!df0.columns.contains(key))
      throw new DvException(DvError.Configuration(
        s"rebucket($layer.$name): bucket key column '$key' not present in the table " +
          s"(columns: ${df0.columns.mkString(", ")})"))
    val df = df0.drop("hk_bucket").withColumn("hk_bucket", bucketOfN(col(key), newBuckets))
    val target = Confs.compactTargetBytes(spark.conf)
    // xxhash64 keys spread bytes ~uniformly over the NEW buckets, so one
    // chunk count serves all of them (the old per-bucket listing can't
    // size new buckets — old dirs don't map to new assignments)
    val totalBytes = leaves.iterator.map(_.getLen).sum
    val chunksPerBucket = math.max(1L,
      (totalBytes / math.max(1, newBuckets) + target - 1) / target).min(1L << 16).toInt
    val totalChunks = (chunksPerBucket.toLong * newBuckets).max(1L).min(1L << 20).toInt
    (chunked(df, lit(chunksPerBucket), totalChunks, sortBy), Seq("hk_bucket"), Some(layout))
  }

  /** The frame [[compact]] and [[rebucket]] share: under the table's
    * compaction claim, expire superseded data, then commit the next
    * generation from the current one. `plan` gets the current generation
    * (read with mergeSchema), its layout record and its parquet leaves, and
    * returns the frame to write, its partition columns and the new
    * generation's record. Returns (files before, files after). */
  private def rewrite(layer: String, name: String, what: String)(
      plan: (DataFrame, Option[TableLayout], Array[org.apache.hadoop.fs.FileStatus]) =>
        (DataFrame, Seq[String], Option[TableLayout])): (Long, Long) = {
    val absent = new DvException(DvError.Entity(s"$what($layer.$name): table does not exist"))
    if (!exists(layer, name)) throw absent
    val root = new Path(tablePath(layer, name))
    val fs = fsOf(root)
    withCompactionClaim(layer, name, what) {
      // Reclaim data superseded by the CURRENT generation (kept one cycle
      // for in-flight readers; kept at least retainMillis under the policy)
      // and any uncommitted staged generation a crashed writer left.
      expireInternal(layer, name, math.max(0L, Confs.genRetainMillis(spark.conf)))
      val (n, curDir) = generations(fs, root)._2.lastOption.getOrElse(throw absent)
      // ONE pre-rewrite walk serves the before-count, the rewrite's sizing
      // and the source-unchanged check.
      val leaves = parquetLeaves(fs, curDir).toArray
      // mergeSchema: the rewrite must read the UNION of every file's schema.
      // Plain inference picks one footer; on a schema-evolved satellite
      // (older appends missing a newer column) an old-footer pick would
      // silently DROP the evolved column from the rewrite — on-disk data
      // loss, not just a narrowed read. The footer-merge job is
      // proportional to file count, which a compaction pays anyway.
      val df = spark.read.option("mergeSchema", "true").parquet(curDir.toString)
      val (out, partitionColumns, layout) = plan(df, readLayout(fs, curDir), leaves)
      val (_, after) = commitGeneration(layer, name, n + 1L, layout, s"$what($layer.$name)",
        Some(curDir -> leaves))(writeParquet(out, _, partitionColumns))
      (leaves.length.toLong, after)
    }
  }

  /** Delete data superseded by the table's current committed generation:
    * committed generations BELOW the current one and uncommitted staged
    * generations (crashed writers). Runs automatically at the start of
    * every [[compact]]/[[rebucket]] (so superseded data survives at least
    * one compaction cycle for in-flight readers — see the retention note
    * there) and, under the `spark.graft.gen.retainMillis` policy, age-gated
    * after bucketed appends; call directly to reclaim the ≤ 2× storage
    * immediately once concurrent readers are known drained (the explicit
    * call ignores the retention window — it IS the operator's drain
    * statement). Claim-gated like compact: calling this while a compaction
    * of the same table is in flight gets a typed Concurrency refusal
    * instead of deleting the compaction's staged generation mid-write.
    * Returns the number of root entries deleted; 0 on a table with one
    * generation and on absent tables. */
  def expireSuperseded(layer: String, name: String): Long = {
    val root = new Path(tablePath(layer, name))
    // absent-table guard BEFORE the claim: the claim marker's create would
    // otherwise materialize an empty table dir
    if (!fsOf(root).exists(root)) return 0L
    withCompactionClaim(layer, name, "expireSuperseded")(expireInternal(layer, name, minAgeMillis = 0L))
  }

  /** The expire pass itself — callers hold the compaction claim. A
    * generation is reclaimable when it is superseded (a committed
    * generation above it exists) AND its superseding generation's commit
    * marker is at least `minAgeMillis` old (0 = immediately). Only a first
    * write stages without the claim, and only while the table has no
    * committed generation — so such a table is left alone (the next first
    * write replaces a crashed `gen-1`), and on a committed table an
    * uncommitted generation is a crashed leftover, reclaimed regardless of
    * age. The claim marker and the current generation are never touched. */
  private def expireInternal(layer: String, name: String, minAgeMillis: Long): Long = {
    val root = new Path(tablePath(layer, name))
    val fs = fsOf(root)
    val (entries, committed) = generations(fs, root)
    val cur = committed.lastOption.map(_._1)
    if (cur.isEmpty) return 0L
    val now = System.currentTimeMillis()
    def agedOut(supersederDir: Path): Boolean =
      minAgeMillis <= 0L || {
        val m = new Path(supersederDir, Lake.CommitMarker)
        // marker mtime = the moment its predecessor became superseded. A
        // FAILED stat (transient RPC error; a vanished marker shouldn't
        // happen under the claim) errs toward KEEPING: retention is a
        // safety window for in-flight readers, and deleting on an error
        // would shrink it to zero exactly when the store is flaky — the
        // next expire pass reclaims once the stat succeeds. Clock caveat:
        // the age compares the STORE's marker mtime against the driver's
        // clock; size retainMillis with a skew margin (a driver ahead of
        // the store by N shrinks every window by N).
        scala.util.Try(fs.getFileStatus(m).getModificationTime)
          .map(t => now - t >= minAgeMillis).getOrElse(false)
      }
    // doomed generation -> the superseding generation that makes it
    // reclaimable (None for uncommitted leftovers, which have no superseder
    // and no orphan check — a LIVE stager's loss is already loud on its own
    // side via verifyStaged)
    val doomed: Array[(org.apache.hadoop.fs.FileStatus, Option[Path])] =
      entries.iterator.flatMap { s =>
        genNumber(s.getPath).filterNot(cur.contains).flatMap { n =>
          if (!committed.exists(_._1 == n)) Some(s -> None)
          else committed.find(_._1 > n).map(_._2).filter(agedOut).map(d => s -> Some(d))
        }
      }.toArray
    // ORPHAN-WRITE REFUSAL, checked for ALL doomed generations before
    // deleting ANY. Why refuse rather than have compact ABSORB the orphans
    // into its rewrite: absorption would silently merge
    // rows from a writer whose view of the table was WRONG — if the
    // operator already re-ingested them (the documented recovery), absorb
    // would double them; and an orphan file can carry a pre-evolution
    // schema the current generation no longer matches. Data that appeared
    // under a violated contract needs a human decision, not a silent
    // merge; the refusal message spells out the exact recovery.
    // "Superseded" means the data predates its superseding commit. A
    // generation whose newest parquet mtime POSTDATES the superseder's
    // marker was written AFTER the generation swap — a writer routed by a
    // stale resolution (a cross-process Lake whose cache still pointed at
    // the old generation) appended rows the current generation never absorbed. Deleting it is silent
    // data loss; refuse with a typed error instead and leave the operator
    // to reconcile (re-ingest the orphaned rows into the current
    // generation, then expire). Marker and data mtimes come from the SAME
    // store, so the comparison needs no clock-skew margin. Cost: one leaf
    // walk per doomed generation per expire — compaction-cadence, not hot-path.
    doomed.foreach { case (s, superseder) =>
      superseder.foreach { d =>
        val marker = scala.util.Try(
          fs.getFileStatus(new Path(d, Lake.CommitMarker)).getModificationTime).toOption
        parquetLeaves(fs, s.getPath).map(_.getModificationTime).maxOption.foreach { dataT =>
          if (marker.exists(dataT > _))
            throw new DvException(DvError.Concurrency(
              s"expireSuperseded($layer.$name): ${s.getPath} contains data WRITTEN AFTER " +
                s"the generation that supersedes it committed ($d) — a writer with a stale " +
                s"table resolution (another process's cache, or a direct path write) " +
                s"appended rows the current generation never absorbed. Deleting would lose " +
                s"them silently; refusing instead. To resolve: re-ingest the orphaned rows " +
                s"into the current generation (read the path directly, append via the Lake), " +
                s"then REMOVE or move aside the orphaned file itself — its mtime postdates " +
                s"the superseding commit forever, so expire (and compact, which expires at " +
                s"start) keeps refusing until the file is gone."))
        }
      }
    }
    val paths = doomed.map(_._1.getPath)
    paths.foreach(fs.delete(_, true))
    if (paths.nonEmpty) refresh(layer, name, committed = false)
    paths.length.toLong
  }

  /** Policy-driven reclaim hook on the append path: with
    * `spark.graft.gen.retainMillis` ≥ 0, data superseded for longer than
    * the window is deleted by the table's OWN ongoing writes — storage
    * returns to 1× without anyone remembering [[expireSuperseded]].
    * Costs nothing at the default (-1: disabled); under the policy it is
    * one claim acquire/release + one root listing per append, and it
    * SKIPS silently when the claim is held (a live compaction will expire
    * at its own start).
    *
    * Best-effort BY CONSTRUCTION: this runs AFTER the append's data has
    * landed, so it must never fail the append. In particular the claim
    * capability gate (`spark.graft.claims.requireAtomic` on S3-class
    * stores) is caught and turned into a once-per-JVM note — a fail-fast
    * posture that throws here would kill every streaming micro-batch and
    * flow load whose rows already committed, on exactly the stores the
    * retention policy targets; explicit compact/rebucket/expireSuperseded
    * calls keep the loud gate (they fail BEFORE touching data). */
  private def maybeExpireAged(layer: String, name: String): Unit = {
    val retain = Confs.genRetainMillis(spark.conf)
    if (retain < 0L || !exists(layer, name)) return
    val claimed =
      try tryCompactionClaim(layer, name)
      catch {
        case e: DvException if e.error.isInstanceOf[DvError.Configuration] =>
          if (Lake.notedNoPolicyExpire.add(qualifiedKey(layer, name)))
            Console.err.println(
              s"[graft] NOTE: ${Confs.GenRetainMillisKey} is set but $layer.$name's store " +
                s"fails the claim capability gate (${e.error.message.takeWhile(_ != '\n')}); " +
                s"policy reclaim is skipped — superseded generations accumulate until an " +
                s"explicit compact/expireSuperseded.")
          false
      }
    if (claimed) {
      // Best-effort holds for the reclaim PASS too: the orphan-write refusal
      // (or an IO error) escaping after the append committed would fail
      // every later append and micro-batch of a table with one orphaned
      // file. Loud once per table, then quiet: the explicit
      // compact/expireSuperseded calls keep the full refusal.
      try { expireInternal(layer, name, retain); () }
      catch {
        case scala.util.control.NonFatal(e) =>
          if (Lake.notedPolicyExpireFailed.add(qualifiedKey(layer, name)))
            Console.err.println(
              s"[graft] NOTE: policy reclaim of $layer.$name failed and is suspended for " +
                s"this JVM (the append itself committed); run an explicit " +
                s"expireSuperseded/compact to see and resolve the cause: " +
                s"${Option(e.getMessage).getOrElse(e.getClass.getName).linesIterator.mkString(" ")}")
      }
      finally releaseCompactionClaim(layer, name)
    }
  }

  /** Point lookup on a bucketed vault table: recomputes the key's bucket
    * (under the TABLE's persisted count — session-conf drift cannot
    * mis-prune) and filters on the partition column FIRST, so the scan
    * touches 1/buckets of the table's files (PartitionFilters in the
    * plan) — the read-side payoff of bucketed appends at 100 TB.
    *
    * Schema-evolution caveat: like any plain parquet read, the schema is
    * INFERRED from one footer, so a column added after earlier appends may
    * be absent from the result depending on which file wins inference. For
    * evolved satellites use [[readOr]] with the metadata schema (its
    * imposed-schema contract null-backfills old files) and filter on
    * [[tableBucketOf]] — this helper stays inference-based because a
    * per-lookup footer-merge would cost a full listing per point read. */
  def lookupBucketed(layer: String, name: String, keyCol: String, value: String): DataFrame = {
    val layout = tableLayout(layer, name)
    layout.foreach(noteDrift(layer, name, _))
    val n = layout.map(_.bucketCount).getOrElse(bucketCount)
    val df = read(layer, name)
    // bucketOfValue hashes a STRING; a table bucketed on a non-string key
    // column (xxhash64 of the native type) would prune to the WRONG bucket
    // and silently return nothing — fail loudly instead. The vault's hk
    // columns are always hex strings, so engine paths never hit this.
    // Resolve the column through the DataFrame (not StructType.apply) so
    // the session's case-sensitivity rules apply, same as the filter below.
    val kt = df.select(df(keyCol)).schema.head.dataType
    require(kt == org.apache.spark.sql.types.StringType,
      s"lookupBucketed: $keyCol is $kt, but the bucket is recomputed from a STRING value — " +
        "a non-string bucket derivation would prune to the wrong bucket and return an " +
        "empty result; read with readOr + filter instead")
    df.filter(col("hk_bucket") === bucketOfValueN(value, n) && col(keyCol) === value)
      .drop("hk_bucket")
  }
}

object Lake {
  /** Session-conf key that pins the bucket count of lakes constructed
    * without an explicit `buckets` arg (SURVEY §4). Applies to NEW tables;
    * existing tables' layout records govern themselves. */
  val BucketsKey = "spark.graft.buckets"
  /** The count of an unpinned lake's tables at or above the size gate, or
    * of unknown size. */
  val DefaultBuckets = 16
  /** Sentinel default for the constructor arg: "resolve from conf". */
  val FromConf: Int = -1
  /** Generation-directory name prefix (`{table}/gen-N/`). Not hidden and
    * free of `=`: the table root holds no data, so nothing needs hiding,
    * and Spark logs "All paths were ignored" on every read of a
    * `_`-prefixed directory. */
  val GenPrefix = "gen-"
  /** Marker file whose CREATE inside a generation dir is the generation's
    * atomic commit point ([[Lake.commitGeneration]]). */
  val CommitMarker = "_graft_committed"
  /** Per-table layout record file name ([[TableLayout]]); lives in the
    * generation it describes. Underscore-prefixed → hidden from Spark's
    * file index. */
  val LayoutFile = "_graft_table.json"
  /** Per-table compaction-claim marker at the table root (underscore →
    * hidden); create-no-overwrite is the cross-process arbiter. */
  val CompactClaim = "_graft_compacting"
  /** Per-table LOAD-claim marker suffix ([[Lake.withLoadClaim]]) —
    * serializes concurrent incremental loads of one table across
    * processes. Marker file: `<layer>/.claims/<table>_graft_loading`
    * (side dir, so claiming never materializes the table dir). */
  val LoadClaim = "_graft_loading"

  private[core] final case class Resolution(dataDir: String, layout: Option[TableLayout])

  /** The logger of bucket-count decisions (class doc). */
  private val log = org.apache.logging.log4j.LogManager.getLogger("graft.core.Lake")

  /** Walks executed plans through AQE wrappers and query stages. */
  private object PlanWalk extends org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper

  /** JVM-wide (data dir, layout) resolution cache keyed by table path,
    * positive results only — shared across Lake instances over the same
    * root so any instance's write invalidates for all (see
    * [[Lake.resolution]] staleness note). */
  private val resolutionCache =
    new java.util.concurrent.ConcurrentHashMap[String, Resolution]()

  /** JVM-wide claim registry: qualified marker paths taken in this JVM
    * ([[Lake.tryClaim]]). Makes same-process races deterministic where the
    * store's create-no-overwrite is check-then-act (the local FS) and costs
    * nothing where create is the atomic arbiter. */
  private[graft] val claims = java.util.concurrent.ConcurrentHashMap.newKeySet[String]()

  /** Claim keys held by the CURRENT thread — [[Lake.withClaim]] reentrancy
    * (a sat_full load claims once around both append phases). */
  private val heldClaims =
    ThreadLocal.withInitial[scala.collection.mutable.Set[String]](() => scala.collection.mutable.Set.empty)

  /** Filesystem schemes whose plain create() is NOT a conditional write —
    * flat object stores where two processes can both "create" the same
    * marker and both believe they won (S3-class: create(overwrite=false)
    * is HEAD-then-PUT). HDFS, local file (plus the JVM registry), and
    * hierarchical-namespace stores (abfs/ADLS Gen2) ARE atomic. Hadoop
    * exposes no path capability for this (checked CommonPathCapabilities,
    * Hadoop 3.4), so the gate is a scheme list; unknown schemes are
    * assumed atomic and documented in README's deployment notes. */
  private val nonAtomicCreateSchemes =
    Set("s3", "s3a", "s3n", "wasb", "wasbs", "swift", "oss", "cos", "obs")

  /** Schemes already warned about in this JVM (warn once, not per claim). */
  private val warnedSchemes = java.util.concurrent.ConcurrentHashMap.newKeySet[String]()

  /** Capability gate for claim markers ([[Confs.claimsRequireAtomic]]
    * doc): on a store whose create is not conditional, either fail fast
    * (requireAtomic=true — typed Configuration error naming the conf) or
    * warn once per scheme and proceed with ADVISORY cross-process claims
    * (same-JVM arbitration via [[claims]] is unaffected). */
  private[graft] def gateClaimStore(
      fs: org.apache.hadoop.fs.FileSystem,
      conf: org.apache.spark.sql.RuntimeConfig,
      what: String): Unit = {
    val scheme = Option(fs.getUri.getScheme).getOrElse("file").toLowerCase
    if (nonAtomicCreateSchemes(scheme)) {
      if (Confs.claimsRequireAtomic(conf))
        throw new DvException(DvError.Configuration(
          s"$what claim markers are on '$scheme', whose create() is not a conditional " +
            s"write — cross-process claim arbitration would be advisory. Host the lake's " +
            s"metadata layer on an atomic-create store (HDFS/ABFS/file), serialize flows " +
            s"externally, or unset ${Confs.ClaimsRequireAtomicKey} to proceed " +
            s"with advisory claims."))
      else if (warnedSchemes.add(scheme))
        Console.err.println(
          s"[graft] WARNING: $what claim markers on '$scheme' rely on create-no-overwrite, " +
            s"which this store does not provide atomically; cross-process claim arbitration " +
            s"is advisory here (same-JVM flows stay fully arbitrated). Set " +
            s"${Confs.ClaimsRequireAtomicKey}=true to fail fast instead.")
    }
  }

  /** Test seam for the concurrent-append-during-compaction proof: invoked
    * with "layer.name" after a compact/rebucket's staged write lands,
    * IMMEDIATELY before the source-unchanged check and the commit marker —
    * i.e. inside the window a contract-violating concurrent writer would
    * hit. No-op in production. */
  private[graft] var beforeCommitHook: String => Unit = _ => ()

  /** Tables already drift-noted in this JVM (note once, not per op). */
  private val notedDrift =
    java.util.concurrent.ConcurrentHashMap.newKeySet[String]()

  /** Tables already noted for skipped policy reclaim (capability-gated
    * store) in this JVM — [[Lake.maybeExpireAged]]. */
  private val notedNoPolicyExpire =
    java.util.concurrent.ConcurrentHashMap.newKeySet[String]()

  /** Tables whose best-effort policy reclaim already failed loudly once in
    * this JVM ([[Lake.maybeExpireAged]] catch — the reclaim keeps being
    * retried per append, only the note is deduplicated). */
  private val notedPolicyExpireFailed =
    java.util.concurrent.ConcurrentHashMap.newKeySet[String]()

  /** Shared Jackson mapper for layout records (readTree is thread-safe);
    * Jackson ships with Spark itself. */
  private val jsonMapper = new com.fasterxml.jackson.databind.ObjectMapper()
}
