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
  * load_dts can engage). */
final case class TableLayout(bucketCount: Int, keyCol: String, sortBy: Seq[String])

/** Layered lake storage for the vault: `{root}/{layer}/{table}` parquet
  * directories, layers mirroring the reference's schemas
  * (mallarddv/db/schema_manager.py:21 — stg, dv, bv, dm, metadata).
  *
  * The reference uses a single-file DuckDB database; the Spark re-expression
  * is a lake layout where every table is an append/overwrite parquet
  * directory usable from any number of executors. Vault tables are written
  * bucketed by a hash-key prefix column (`hk_bucket`) so that at 100 TB a
  * vault table's scan, as well as hub/link anti-joins repartitioned on the
  * same derivation, can prune and co-locate by bucket.
  *
  * BUCKET-COUNT RESOLUTION: the constructor arg / `spark.graft.buckets`
  * conf / default-16 chain sets this lake's count for NEW tables only.
  * Existing bucketed tables carry their count in a [[TableLayout]] record
  * (`_graft_table.json`, written at create, living beside the data it
  * describes — table root for the flat layout, generation dir after a
  * compaction, so a generation commit atomically publishes data AND
  * layout). All bucket-coupled operations (pruned probes, bucketed
  * appends, point lookups) resolve the count from the record, so a
  * session-conf drift can no longer mis-prune silently —
  * it is noted once per table on stderr and the persisted count governs.
  * [[rebucket]] is the explicit way to change a table's count.
  */
final class Lake(val spark: SparkSession, val root: String, buckets: Int = Lake.FromConf) {

  /** Bucket count in force for this lake's NEW tables (see class doc for
    * resolution; existing tables' layout records govern themselves).
    * Validated here so a malformed conf or a 0/negative count fails at
    * lake construction with the offending key named, not later inside
    * pmod/repartition with an opaque arithmetic error. */
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

  def exists(layer: String, name: String): Boolean = {
    val p = new Path(tablePath(layer, name))
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.exists(p)
  }

  private def fsOf(p: Path): org.apache.hadoop.fs.FileSystem =
    p.getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** Fully-qualified table path — the key every JVM-wide per-table registry
    * (resolution cache, compaction claims, drift notes) uses. Two Lake
    * instances can spell one directory differently ("/data/lake" vs
    * "file:/data/lake/", a scheme-qualified vs a relative root); Hadoop
    * resolves them to the same place, and Spark's own refreshByPath
    * normalizes — so the cache keys must too, or instance A's compact
    * would invalidate only A's spelling and B would keep serving the
    * superseded generation (and plain-append INTO it) indefinitely.
    * makeQualified is pure path arithmetic: no filesystem RPC. */
  private def qualifiedKey(layer: String, name: String): String = {
    val p = new Path(tablePath(layer, name))
    fsOf(p).makeQualified(p).toString
  }

  /** Generation number of a `_gen-N` directory name, None for anything else
    * (flat data files, `hk_bucket=` partition dirs, markers). */
  private def genNumber(p: Path): Option[Long] =
    if (p.getName.startsWith(Lake.GenPrefix))
      p.getName.stripPrefix(Lake.GenPrefix).toLongOption.filter(_ > 0)
    else None

  /** (generation number, directory) of the highest COMMITTED generation
    * under the table root, None when the table is flat (or absent).
    * Commit = the `_graft_committed` marker file exists inside the
    * generation dir — its CREATE is the compaction's atomic commit point
    * on every store (HDFS create, S3 PUT, local FS: the object either
    * exists or it doesn't; no rename involved). Cost: one listStatus of
    * the table ROOT (entries = bucket dirs + generation dirs, both
    * configuration-scale) plus one exists per generation dir present
    * (≤ 2 in steady state: current + the retained previous). */
  private def currentGen(fs: org.apache.hadoop.fs.FileSystem, root: Path): Option[(Long, Path)] =
    if (!fs.exists(root)) None
    else fs.listStatus(root).iterator
      .filter(_.isDirectory)
      .flatMap(s => genNumber(s.getPath).map(_ -> s.getPath))
      .filter { case (_, p) => fs.exists(new Path(p, Lake.CommitMarker)) }
      .reduceOption((a, b) => if (a._1 >= b._1) a else b)

  /** Resolved (data dir, layout record) for a table, computed once and
    * cached JVM-wide per table path — generation resolution is one
    * listStatus + a marker probe per generation dir, and it sits on the
    * hottest paths (a streaming foreachBatch issues several reads + an
    * append per micro-batch, each of which resolves): on a remote object
    * store that is a driver metadata RPC per call. Every Lake WRITE
    * invalidates through [[refresh]] (all mutating ops call it), so
    * within the lake's documented single-writer-per-table contract the
    * cache is always coherent; a table compacted by ANOTHER process keeps
    * serving the superseded (still-present, retention contract) generation
    * to this JVM until any local write or an explicit
    * `spark.catalog.refreshByPath`-accompanied [[refresh]] — same staleness
    * class as Spark's own file-listing cache. */
  private def resolution(layer: String, name: String): Lake.Resolution = {
    val key = qualifiedKey(layer, name)
    Lake.resolutionCache.computeIfAbsent(key, _ => {
      val rootP = new Path(tablePath(layer, name))
      val fs = fsOf(rootP)
      val cur = currentGen(fs, rootP)
      val dir = cur.map(_._2).getOrElse(rootP)
      // fallback to the root record covers a table compacted BEFORE layout
      // records existed whose record was written to the root afterwards
      val layout = readLayout(fs, dir)
        .orElse(if (cur.isDefined) readLayout(fs, rootP) else None)
      Lake.Resolution(dir.toString, layout)
    })
  }

  /** The directory holding the table's CURRENT data: the highest committed
    * generation (`{table}/_gen-N/`) once the table has been compacted, else
    * the table directory itself — the flat layout every table is born with
    * and keeps until its first compaction. All lake reads and appends
    * resolve through this, so a compaction's generation swap is invisible
    * to callers. Generation dirs start with `_`, which Spark's file index
    * treats as hidden — a reader of the FLAT layout never sees a staged
    * generation being written next to its data. External engines reading a
    * lake table directly should read this resolved directory, not glob the
    * table root. Cached per table ([[resolution]]). */
  def dataPath(layer: String, name: String): String = resolution(layer, name).dataDir

  /** The [[TableLayout]] record governing this table, None for tables
    * created before layout records existed (or never bucket-appended). */
  def tableLayout(layer: String, name: String): Option[TableLayout] =
    resolution(layer, name).layout

  /** The bucket count in force FOR THIS TABLE: its layout record's count
    * when present (authoritative — survives session-conf drift), else this
    * lake's [[bucketCount]]. Every bucket-coupled operation resolves
    * through here. */
  def tableBuckets(layer: String, name: String): Int =
    resolution(layer, name).layout.map(_.bucketCount).getOrElse(bucketCount)

  def read(layer: String, name: String): DataFrame =
    spark.read.parquet(dataPath(layer, name))

  /** Read, or an empty frame of `schema` when the table doesn't exist yet.
    *
    * The EXPECTED schema is imposed on the scan — the schema-evolution
    * contract: a column added to satellite metadata after earlier appends
    * is absent from the old part files, and the parquet reader
    * null-backfills it per file, so an evolved satellite reads with the
    * new column as NULL history instead of silently dropping it (the
    * pre-r12 column-intersection behavior). This is also cheaper than
    * `mergeSchema` (no footer-merge job over every part file — at 100 TB
    * that job is a full listing + footer read), and it keeps the column
    * set stable: on-disk extras like the `hk_bucket` partition column are
    * simply not part of the imposed schema. Columns REMOVED from metadata
    * while still on disk are likewise dropped here; history stays in the
    * files. */
  def readOr(layer: String, name: String, schema: StructType): DataFrame =
    if (exists(layer, name))
      // The select drops DISCOVERED partition columns (hk_bucket): a
      // user-specified schema governs data columns, but partition
      // discovery still appends directory-derived ones.
      spark.read.schema(schema).parquet(dataPath(layer, name))
        .select(schema.fieldNames.map(col).toIndexedSeq: _*)
    else
      // empty LOCAL relation, not an empty RDD: a LogicalRDD's stats are the
      // defaultSizeInBytes SENTINEL, so every plan built over an
      // absent-table probe (a first flow load, a streaming sink's batch 0)
      // claimed Long.MaxValue-ish input — Tables.clusterParts then sized
      // the delta load's exchange to the 4-wave cap (128 tasks for a
      // 15k-row micro-batch, profiled r19) and estBytesKnown-gated sites
      // saw "unknown". A LocalRelation reports its true 0 bytes, and the
      // optimizer's PropagateEmptyRelation can collapse joins against it
      // outright — the correct first-batch plan.
      spark.createDataFrame(java.util.Collections.emptyList[org.apache.spark.sql.Row](), schema)

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
    * falls back to the unpruned scan. NOT for delete detection
    * (DvOps.satDeleteRows): there the ABSENT keys are the signal, and
    * pruning would mass-delete the unscanned buckets. Bucket derivation
    * uses the TABLE's persisted count ([[tableBuckets]]), so a
    * session-conf drift cannot mis-prune.
    *
    * `gate`: a caller that already evaluated [[probeWouldEngage]] this
    * batch (the streaming sinks do, to decide hash-view caching BEFORE the
    * bucket collect runs) passes the decision here — the gate's
    * estBytesKnown walks the optimized plan, a per-call driver optimizer
    * pass worth skipping twice per micro-batch. None = evaluate here. */
  def readOrProbe(
      layer: String, name: String, schema: StructType,
      staged: DataFrame, stagedKey: org.apache.spark.sql.Column,
      gate: Option[Boolean] = None): DataFrame = {
    val full = readOr(layer, name, schema)
    if (!exists(layer, name)) return full
    val engaged = gate.getOrElse {
      val known = Tables.estBytesKnown(full)
      val e = known.exists(_ >= Confs.probePruneMinBytes(spark.conf))
      Tables.gateTrace(spark.conf, s"readOrProbe($layer.$name)", e, known)
      e
    }
    if (!engaged) return full
    val n = tableBuckets(layer, name)
    val buckets = staged.select(bucketOfN(stagedKey, n).as("__b")).distinct()
      .collect().map(_.getLong(0))
    if (buckets.length >= n) return full
    val raw = spark.read.schema(schema).parquet(dataPath(layer, name))
    // The partition column only exists once a bucketed append has
    // landed: a table pre-created by initVault holds a single empty
    // FLAT part file, and filtering an undiscovered column is an
    // analysis error, not a no-op — fall back to the unpruned scan
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

  /** True when [[readOrProbe]] would engage the bucket-pruned probe
    * for this table (exists + above the size gate). Callers use it to
    * decide whether materializing a shared input pays: above the gate the
    * bucket distinct-collect is a SECOND action over the staged batch (the
    * streaming sinks cache their per-batch hash view for it); below it the
    * append is the only action and a cache is pure overhead (measured
    * +0.2–0.4 s per micro-batch on the KB-scale driver bench rows). */
  def probeWouldEngage(layer: String, name: String, schema: StructType): Boolean =
    exists(layer, name) &&
      Tables.estBytesKnown(readOr(layer, name, schema))
        .exists(_ >= Confs.probePruneMinBytes(spark.conf))

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

  /** Spark shares a JVM-wide file-listing cache across path reads and
    * catalog tables; any write must invalidate it or later readers can chase
    * deleted part files (FAILED_READ_FILE.FILE_NOT_EXIST). The lake's own
    * [[resolution]] cache is invalidated here too — every mutating lake
    * operation funnels through refresh. */
  private def refresh(layer: String, name: String): Unit = {
    Lake.resolutionCache.remove(qualifiedKey(layer, name))
    spark.catalog.refreshByPath(tablePath(layer, name))
    // A catalog table registered over this path (Graft.initVault) caches its
    // own relation keyed by name; refreshByPath alone can miss it.
    scala.util.Try {
      if (spark.catalog.tableExists(s"$layer.$name"))
        spark.catalog.refreshTable(s"$layer.$name")
    }
    onRefresh(layer, name)
  }

  /** Invoked at the end of every [[refresh]] — the Graft facade hooks the
    * refresh of its differently-named catalog objects here (the hidden
    * `dv.__<name>__data` backing tables, whose relation caches pin file
    * listings under their own catalog names). Must not throw. */
  private[graft] var onRefresh: (String, String) => Unit = (_, _) => ()

  /** Truncate-and-load. Writes to the TABLE ROOT deliberately: Spark's
    * overwrite deletes the whole output dir first — generation dirs and
    * layout record included — so an overwritten table is reborn flat and
    * unrecorded, exactly like a new one (self-healing; there is no
    * half-generation state to reconcile). Engine paths only overwrite
    * staging/metadata tables, which are never compacted or bucketed. */
  def overwrite(df: DataFrame, layer: String, name: String): Unit = {
    df.write.mode("overwrite").parquet(tablePath(layer, name))
    refresh(layer, name)
  }

  /** Plain (non-bucketed) append — the runinfo ledger's write path. Routes
    * through [[dataPath]] like every other read/append: once a plain-append
    * table has been compacted (the ledger is the archetypal small-file
    * compaction target), new rows MUST land inside the committed generation
    * — an append to the table root would be invisible to generation-routed
    * reads and silently deleted as legacy flat data by the next
    * expire/compact (r18 ADVICE finding: lost ledger rows double-ingest
    * files). */
  def append(df: DataFrame, layer: String, name: String): Unit = {
    df.write.mode("append").parquet(dataPath(layer, name))
    refresh(layer, name)
  }

  private def bucketOfN(keyCol: Column, n: Int): Column =
    pmod(xxhash64(keyCol), lit(n))

  /** Deterministic bucket of a key value under THIS LAKE's count — the
    * derivation [[appendBucketed]] writes NEW tables with. For an existing
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

  /** Once-per-table stderr note when a layout record's bucket count differs
    * from this lake's configured count: not an error (the record governs,
    * results stay correct), but drift usually means a misconfigured
    * session and the operator should know. */
  private def noteDrift(layer: String, name: String, lo: TableLayout): Unit =
    if (lo.bucketCount != bucketCount && Lake.notedDrift.add(qualifiedKey(layer, name)))
      Console.err.println(
        s"[graft] NOTE: $layer.$name was written with ${lo.bucketCount} buckets (layout " +
          s"record) but this session's Lake is configured for $bucketCount — the table's " +
          s"persisted count governs its probes/appends/lookups. Use Lake.rebucket to change " +
          s"a table's bucket count.")

  /** Append a vault increment partitioned by hash-key-prefix bucket. The
    * bucket is a deterministic function of the key AND the table's
    * persisted bucket count, so co-located reads and bucket pruning
    * survive any number of appends and any session-conf drift. On the
    * append that CREATES a table, the layout record is written (after the
    * data, so a failed write can't leave a record-only husk); a pre-record
    * legacy table adopts this lake's count after a best-effort on-disk
    * sanity check (an observed `hk_bucket=` value ≥ the count proves
    * drift and fails loudly; the converse — legacy table written at a
    * SMALLER count than the session's — is not detectable from names
    * alone, which is exactly why the record now exists from birth). An
    * append bucketing on a different KEY COLUMN than the record's fails
    * loudly — two derivations over one table would scatter keys.
    *
    * The write is repartitioned BY BUCKET first: `partitionBy` alone makes
    * every upstream task open a file per bucket it happens to hold, so the
    * file count scales with exchange width × buckets (measured 4×: AQE-wide
    * upstream plans turned each micro-batch append into thousands of
    * KB-sized files). One exchange keyed on the bucket column writes
    * exactly one file per non-empty bucket per append — the bucketed-table
    * invariant compaction relies on; at production scale the bucket count,
    * not the cluster width, is the correct append parallelism.
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
    * contract (flow executor / one streaming query per sink table).
    *
    * An empty increment appended to an EXISTING table writes no part files
    * (per-partition writers skip empty tasks) and is harmless; on the
    * FIRST append an empty write leaves a `_SUCCESS`-only directory that
    * breaks later reads — the write reports 0 files, and the directory is
    * deleted (no layout record is written), so readOr keeps seeing "table
    * absent". */
  def appendBucketed(df: DataFrame, layer: String, name: String, keyCol: String): Long = {
    val res = resolution(layer, name)
    res.layout.foreach { lo =>
      if (lo.keyCol != keyCol)
        throw new DvException(DvError.Configuration(
          s"appendBucketed($layer.$name): the table's layout record buckets on " +
            s"'${lo.keyCol}' but this append buckets on '$keyCol' — one table cannot " +
            s"carry two bucket derivations (pruned probes and lookups would miss keys)"))
      noteDrift(layer, name, lo)
    }
    val n = res.layout.map(_.bucketCount).getOrElse(bucketCount)
    val dataDir = new Path(res.dataDir)
    val fs = fsOf(dataDir)
    val existed = exists(layer, name)
    if (res.layout.isEmpty)
      // legacy (pre-record) table: refuse when the disk disproves this
      // lake's count before we bless it into a record
      verifyLegacyAdoption(layer, name, fs, dataDir, keyCol, n)
    // resolved dir, not the table root: post-compaction appends belong to
    // the committed generation (the root's flat files are superseded data
    // retained only for in-flight readers)
    val (rows, files) = writeParquet(
      df.withColumn("hk_bucket", bucketOfN(col(keyCol), n)).repartition(n, col("hk_bucket")),
      res.dataDir, Seq("hk_bucket"))
    if (files == 0L && !existed) {
      fs.delete(dataDir, true)
      refresh(layer, name)
      return 0L
    }
    if (res.layout.isEmpty)
      writeLayout(fs, dataDir, TableLayout(n, keyCol, Nil))
    refresh(layer, name)
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

  /** Adoption check for a RECORD-LESS legacy table about to be blessed into
    * a TableLayout at count `n`: the record makes `n` permanently
    * authoritative, so the disk must be proven CONSISTENT with it first —
    * "no partition name ≥ n" alone is not proof (a table written at 16
    * whose occupied buckets happen to all be < 12 would pass that test at
    * n=12, then every probe/lookup under the blessed record would scan the
    * wrong partitions and silently miss existing keys — worse than
    * pre-record drift, which healed when the conf was fixed).
    *
    * Two stages: (1) the free listing check — any observed `hk_bucket=` ≥ n
    * disproves n outright; (2) an exhaustive row check — one column-pruned
    * job over (keyCol, hk_bucket) asserting `pmod(xxhash64(key), n)` equals
    * the stored partition value for EVERY row. On a genuinely mismatched
    * count the limit(1) short-circuits at the first wrong row (most rows
    * are wrong, so the incremental collect-limit stops in its first
    * partition batch); on a consistent table it is one full two-column scan
    * — the one-time price of adopting an unrecorded table (the record is
    * written immediately after, so this never runs again).
    *
    * Deliberately admitted: a table written at count m where n divides m
    * and every occupied bucket b < n passes — and adopting n there is
    * CORRECT, not a near-miss: b = h mod m and n | m give h mod n = b for
    * every stored row, so old rows already sit exactly where n-derived
    * probes/appends look, and the table is henceforth a valid n-bucket
    * table. The check admits precisely the consistent counts. */
  private def verifyLegacyAdoption(
      layer: String, name: String, fs: org.apache.hadoop.fs.FileSystem,
      dataDir: Path, keyCol: String, n: Int): Unit = {
    observedBucketAtOrOver(fs, dataDir, n).foreach { b =>
      throw new DvException(DvError.Configuration(
        s"appendBucketed($layer.$name): on-disk partition hk_bucket=$b is outside this " +
          s"session's bucket count $n — the table predates layout records and was written " +
          s"at a different count. Construct the Lake with the original count (a record is " +
          s"adopted on the next append) or rewrite via Lake.rebucket."))
    }
    val hasBuckets = fs.exists(dataDir) && fs.listStatus(dataDir).exists(s =>
      s.isDirectory && s.getPath.getName.startsWith("hk_bucket="))
    if (!hasBuckets) return
    val mismatch = spark.read.parquet(dataDir.toString)
      .filter(bucketOfN(col(keyCol), n) =!= col("hk_bucket").cast("long"))
      .select(col("hk_bucket").cast("long"))
      .limit(1).collect()
    mismatch.headOption.foreach { row =>
      throw new DvException(DvError.Configuration(
        s"appendBucketed($layer.$name): a stored row in hk_bucket=${row.getLong(0)} does " +
          s"not re-derive to its partition under this session's bucket count $n — the " +
          s"table predates layout records and was written at a different count; blessing " +
          s"$n into a record would make probes/lookups miss existing keys permanently. " +
          s"Construct the Lake with the original count (a record is adopted on the next " +
          s"append) or rewrite via Lake.rebucket."))
    }
  }

  /** First on-disk `hk_bucket=` partition value ≥ `n` under `dir`, if any —
    * disk-evidence that `n` is NOT the count this table was written with.
    * One listStatus; only consulted on the adopt path of record-less
    * legacy tables. */
  private def observedBucketAtOrOver(
      fs: org.apache.hadoop.fs.FileSystem, dir: Path, n: Int): Option[Long] =
    if (!fs.exists(dir)) None
    else fs.listStatus(dir).iterator
      .filter(_.isDirectory)
      .map(_.getPath.getName)
      .filter(_.startsWith("hk_bucket="))
      .flatMap(_.stripPrefix("hk_bucket=").toLongOption)
      .find(_ >= n)

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
        val lo = TableLayout(node.get("bucketCount").asInt, node.get("keyCol").asText, sortBy)
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
        s""""sortBy":[${lo.sortBy.map(Json.str).mkString(",")}]}"""
    // overwrite=true: only written inside single-writer windows (table
    // create, a claimed compact/rebucket's staged dir)
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
  // All but compaction's live in side dirs: a marker inside a table dir
  // would make exists() true for a table with no data yet, and
  // truncate-and-load deletes a staging table's dir, marker included.

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
    * the table's caches are refreshed (resolution + Spark's file-listing
    * cache) so the probe lists fresh — that is what makes the claim close
    * the cross-process double-insert, where the winner's own post-append
    * refresh only fixed its JVM. Waits [[Confs.loadClaimWaitMillis]].
    * Cost when uncontended: one create + one delete of a marker file per
    * table per load — noise against the load's own jobs. */
  def withLoadClaim[A](layer: String, name: String, what: String)(body: => A): A =
    withLoaderClaim(loadClaimPath(layer, name), "load", s"$what($layer.$name)", refresh(layer, name))(body)

  /** Per-source flow claim around a flow's staging + loads: staging is
    * truncate-and-load, so a second flow of the same source would swap the
    * data under the first flow's lazily-evaluated hash view. */
  private[graft] def withFlowClaim[A](sourceTable: String)(body: => A): A =
    withLoaderClaim(flowClaimPath(sourceTable), "flow", s"executeFlow($sourceTable)", ())(body)

  private def withLoaderClaim[A](p: Path, kind: String, what: String, onAcquire: => Unit)(body: => A): A = {
    val waitMs = Confs.loadClaimWaitMillis(spark.conf)
    withClaim(p, kind, waitMs,
      s"$what: another loader holds the claim marker $p after ${waitMs} ms " +
        s"(${Confs.LoadClaimWaitMillisKey}) — a concurrent flow/stream is loading, or a " +
        s"crashed loader left a stale marker. Wait it out, raise the conf, or clear a " +
        s"stale marker (releaseLoadClaim for a table's ${Lake.LoadClaim}; delete the " +
        s"marker file otherwise).", onAcquire)(body)
  }

  private[graft] def withCompactionClaim[A](layer: String, name: String, what: String)(body: => A): A =
    withClaim(compactClaimPath(layer, name), "compaction", waitMs = 0L,
      s"$what($layer.$name): another compact/rebucket/expireSuperseded holds this " +
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
      fs: org.apache.hadoop.fs.FileSystem, srcDir: Path, staged: Path,
      snapshot: Array[org.apache.hadoop.fs.FileStatus], what: String): Unit = {
    def key(s: org.apache.hadoop.fs.FileStatus) =
      (s.getPath.toString, s.getLen, s.getModificationTime)
    val before = snapshot.map(key).toSet
    // skip the just-written staged generation: on a FIRST compaction the
    // source dir is the table root and the staged dir sits inside it — its
    // fresh files are the rewrite's own output, not a concurrent append
    // listStatus returns QUALIFIED paths; qualify the staged path too or
    // the exclusion never matches (file:/x/_gen-N vs /x/_gen-N)
    val stagedQ = fs.makeQualified(staged)
    val now =
      try fs.listStatus(srcDir).iterator.flatMap { s =>
        if (s.isDirectory && fs.makeQualified(s.getPath) == stagedQ) Iterator.empty
        else if (s.isDirectory) parquetLeaves(fs, s.getPath)
        else if (s.getPath.getName.endsWith(".parquet")) Iterator.single(s)
        else Iterator.empty
      }.map(key).toSet
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
    * survive to the commit point (defense-in-depth under the claim: an
    * unclaimed concurrent expireSuperseded used to be able to delete the
    * staged dir mid-write, after which the marker create would have
    * committed an EMPTY generation and the next expire would have deleted
    * all real data as superseded — total table loss, r18 ADVICE finding). */
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
    * would silently scramble the sortBy order the caller asked for
    * (measured: identical decoded-rows before/after on the first cut of
    * the r18 as-of bench). Leading with hk_bucket makes the child ordering
    * a superset of the writer's requirement, so no extra sort is inserted
    * and the within-file order survives. */
  private def sortedWithin(d: DataFrame, sortBy: Seq[String]): DataFrame =
    if (sortBy.isEmpty) d
    else {
      val keys = if (d.columns.contains("hk_bucket")) "hk_bucket" +: sortBy else sortBy
      d.sortWithinPartitions(keys.map(col): _*)
    }

  /** Compact a bucketed table: every append adds a part file per bucket per
    * task, and a long-lived vault accumulates small files (the classic
    * 100 TB lake operations problem). Rewrites each bucket into
    * ~`spark.graft.compact.targetBytes`-sized files (one file while the
    * bucket fits under the target) as a NEW GENERATION directory
    * (`{table}/_gen-N/`), committed by creating one small marker file —
    * readers never observe a half-compacted (mixed old/new) table, and
    * never a missing one. Returns (files before, files after).
    *
    * CLAIM: the whole operation runs under the table's compaction claim
    * (create-no-overwrite marker at the table root) — a second concurrent
    * compact/rebucket/expire gets a typed DvError.Concurrency refusal
    * instead of silently deleting this one's staged data (two compactors
    * both compute nextN; the loser's pre-write `delete(staged)` used to
    * wipe the winner's in-flight staging). The claim is released on every
    * exit; a hard crash leaves it behind — clear with
    * [[releaseCompactionClaim]].
    *
    * COMMIT POSTURE (generation layout, r18 — replaced the two-rename
    * swap): the staged generation is written next to the live data
    * (underscore-prefixed, so Spark's file index hides it from flat-layout
    * readers), and the commit is the CREATE of `_gen-N/_graft_committed` —
    * a single small-object write, atomically visible on every store: HDFS
    * create, S3-class PUT (no rename anywhere — S3 rename is copy+delete
    * and was the old swap's silent failure mode), local FS. Readers
    * resolve [[dataPath]] = highest committed generation; a reader
    * resolving at any moment during compaction sees the OLD generation
    * (before the marker lands) or the NEW one (after), never an absent or
    * mixed table. A crashed compaction leaves an uncommitted `_gen-N`
    * that resolution ignores and the next compact deletes. The staged
    * data's survival is verified IMMEDIATELY before the marker create
    * ([[verifyStaged]]), and the table's layout record is copied into the
    * staged generation before the commit, so one marker publishes data +
    * layout atomically.
    *
    * RETENTION: the superseded data (previous generation, or the root's
    * flat files on first compaction) is kept until the NEXT compaction
    * (the expire pass runs at compact start) — so a reader that resolved
    * its file listing just before the commit can finish its scan; the
    * no-concurrent-reader window of the old swap is gone on every store.
    * Steady-state cost: ≤ 2× table storage between compactions. Reclaim
    * earlier either by POLICY (`spark.graft.gen.retainMillis` ≥ 0: any
    * compact/rebucket/bucketed-append deletes data superseded for at
    * least that long — size the window to the longest reader) or by an
    * explicit [[expireSuperseded]] call once in-flight readers are known
    * drained. With retainMillis set, the compact-start expire ALSO
    * respects the window (young superseded generations survive a rapid
    * re-compact). Catalog tables registered over the FLAT path (Graft
    * registers staging tables this way) must be re-registered after a
    * first compaction — engine paths never compact staging tables.
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
  def compact(layer: String, name: String, sortBy: Seq[String] = Nil): (Long, Long) = {
    val root = new Path(tablePath(layer, name))
    val fs = fsOf(root)
    if (!fs.exists(root))
      throw new DvException(DvError.Entity(s"compact($layer.$name): table does not exist"))
    withCompactionClaim(layer, name, "compact") {
      // Reclaim data superseded by the CURRENT generation (kept one cycle
      // for in-flight readers; kept at least retainMillis under the policy)
      // and any uncommitted staged generation a crashed compaction left —
      // also what keeps the flat-layout walk below from counting a
      // leftover `_gen` dir's leaves.
      expireInternal(fs, root, layer, name,
        math.max(0L, Confs.genRetainMillis(spark.conf)))
      val cur = currentGen(fs, root)
      val curDir = cur.map(_._2).getOrElse(root)
      val nextN = cur.map(_._1 + 1L).getOrElse(1L)
      val layout = readLayout(fs, curDir)
        .orElse(if (cur.isDefined) readLayout(fs, root) else None)
      // ONE pre-rewrite walk serves both the before-count and the per-bucket
      // byte sizing below (a leaf's bucket is its parent dir's partition
      // value) — a second full walk doubled the driver metadata RPCs per
      // compaction on remote stores.
      val leaves = parquetLeaves(fs, curDir).toArray
      val before = leaves.length.toLong
      // mergeSchema: compaction REWRITES the table, so it must read the UNION
      // of every file's schema. Plain inference picks one footer; on a
      // schema-evolved satellite (older appends missing a newer column) an
      // old-footer pick would silently DROP the evolved column from the
      // rewrite — on-disk data loss, not just a narrowed read. The
      // footer-merge job is proportional to file count, which a compaction
      // pays anyway; readOr's imposed-metadata-schema contract covers normal
      // reads, but compact cannot assume a caller-supplied schema.
      val df = spark.read.option("mergeSchema", "true").parquet(curDir.toString)
      val staged = new Path(root, s"${Lake.GenPrefix}$nextN")
      fs.delete(staged, true)
      val (_, after) = if (df.columns.contains("hk_bucket")) {
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
        val dataCols = df.columns.filterNot(_ == "hk_bucket").toIndexedSeq
        // chunk = row-hash mod the bucket's OWN chunk count (a tiny literal
        // map — bucket counts are configuration-scale, not data-scale), so
        // single-chunk buckets keep one file and only oversized ones split.
        // coalesce: a bucket value absent from the driver listing (directory
        // race, unexpected partition value) would make element_at NULL and
        // silently collapse that bucket to a single repartition cell —
        // deterministically give an unmapped bucket one chunk instead.
        val chunk = pmod(
          xxhash64(dataCols.map(col): _*),
          coalesce(
            element_at(typedLit(chunksOf), col("hk_bucket").cast("long")),
            lit(1)))
        writeParquet(
          sortedWithin(
            df.withColumn("__chunk", chunk)
              .repartition(totalChunks, col("hk_bucket"), col("__chunk")), sortBy)
            .drop("__chunk"),
          staged.toString, Seq("hk_bucket"))
      }
      // inputFiles length instead of df.rdd.getNumPartitions (the latter
      // materializes the physical RDD driver-side); compaction targets ~8
      // input files per output file.
      else writeParquet(
        sortedWithin(df.coalesce(math.max(1, df.inputFiles.length / 8)), sortBy),
        staged.toString, Nil)
      // the layout record travels WITH the generation it describes (one
      // marker publishes data + layout); the rewrite's sort becomes the
      // recorded one
      layout.foreach { lo =>
        writeLayout(fs, staged, if (sortBy.nonEmpty) lo.copy(sortBy = sortBy) else lo)
      }
      Lake.beforeCommitHook(s"$layer.$name")
      // a concurrent append mid-staging would be silently dropped by this
      // commit — abort loudly instead (contract-violation detection)
      verifySourceUnchanged(fs, curDir, staged, leaves, s"compact($layer.$name)")
      verifyStaged(fs, staged, s"compact($layer.$name)")
      // THE COMMIT: one small-file create (atomic visibility on every store —
      // no renames). Before it, readers resolve the old generation; after it,
      // the new one. A crash before this line leaves an uncommitted staged
      // dir that resolution ignores.
      fs.create(new Path(staged, Lake.CommitMarker), /* overwrite = */ false).close()
      refresh(layer, name)
      onGenerationSwap(layer, name)
      (before, after)
    }
  }

  /** Invoked with (layer, name) after a commit RELOCATES the table's
    * current data directory (compact/rebucket generation swap), after the
    * caches are refreshed. The Graft facade hooks catalog re-registration
    * here so `dv.<table>` names follow the generation; plain appends never
    * fire it (they stay inside the current directory, where [[refresh]]'s
    * listing-cache invalidation is already sufficient). */
  private[graft] var onGenerationSwap: (String, String) => Unit = (_, _) => ()

  /** Rewrite a bucketed table at a NEW bucket count, as a committed
    * generation — the explicit (and only) way a table's bucket count
    * changes. A 16-bucket vault that grows 100× otherwise keeps
    * multi-TB-granularity probe pruning forever: bucket span is the unit
    * of probe/lookup cost, so the count must be able to
    * follow data volume. Same claim, staging, verify-then-marker commit,
    * and retention posture as [[compact]]; the staged generation's layout
    * record carries the new count, so the one marker create atomically
    * republishes data + layout, and concurrent readers of the old
    * generation are unaffected (their files persist one retention cycle).
    *
    * `keyCol` defaults to the layout record's key; tables created before
    * layout records must pass it explicitly. Output files are size-capped
    * like compact's (uniform chunk estimate — hash keys spread bytes
    * evenly across the new buckets). Returns (files before, files after). */
  def rebucket(
      layer: String, name: String, newBuckets: Int,
      keyCol: Option[String] = None, sortBy: Seq[String] = Nil): (Long, Long) = {
    require(newBuckets > 0, s"rebucket($layer.$name): newBuckets must be > 0, got $newBuckets")
    val root = new Path(tablePath(layer, name))
    val fs = fsOf(root)
    if (!fs.exists(root))
      throw new DvException(DvError.Entity(s"rebucket($layer.$name): table does not exist"))
    withCompactionClaim(layer, name, "rebucket") {
      expireInternal(fs, root, layer, name,
        math.max(0L, Confs.genRetainMillis(spark.conf)))
      val cur = currentGen(fs, root)
      val curDir = cur.map(_._2).getOrElse(root)
      val nextN = cur.map(_._1 + 1L).getOrElse(1L)
      val layout = readLayout(fs, curDir)
        .orElse(if (cur.isDefined) readLayout(fs, root) else None)
      val key = keyCol.orElse(layout.map(_.keyCol)).getOrElse(
        throw new DvException(DvError.Configuration(
          s"rebucket($layer.$name): the table has no layout record to take the bucket " +
            s"key from (created before records existed) — pass keyCol explicitly")))
      val leaves = parquetLeaves(fs, curDir).toArray
      val before = leaves.length.toLong
      val totalBytes = leaves.iterator.map(_.getLen).sum
      val df0 = spark.read.option("mergeSchema", "true").parquet(curDir.toString)
      if (!df0.columns.contains(key))
        throw new DvException(DvError.Configuration(
          s"rebucket($layer.$name): bucket key column '$key' not present in the table " +
            s"(columns: ${df0.columns.mkString(", ")})"))
      val df = df0.drop("hk_bucket").withColumn("hk_bucket", bucketOfN(col(key), newBuckets))
      val target = Confs.compactTargetBytes(spark.conf)
      // xxhash64 keys spread bytes ~uniformly over the NEW buckets, so one
      // chunk count serves all of them (the old per-bucket listing can't
      // size new buckets — old dirs don't map to new assignments)
      val chunksPerBucket = math.max(1L,
        (totalBytes / math.max(1, newBuckets) + target - 1) / target).min(1L << 16).toInt
      val totalChunks = (chunksPerBucket.toLong * newBuckets).max(1L).min(1L << 20).toInt
      val staged = new Path(root, s"${Lake.GenPrefix}$nextN")
      fs.delete(staged, true)
      val dataCols = df.columns.filterNot(_ == "hk_bucket").toIndexedSeq
      val chunk = pmod(xxhash64(dataCols.map(col): _*), lit(chunksPerBucket))
      val effSort = if (sortBy.nonEmpty) sortBy else layout.map(_.sortBy).getOrElse(Nil)
      val (_, after) = writeParquet(
        sortedWithin(
          df.withColumn("__chunk", chunk)
            .repartition(totalChunks, col("hk_bucket"), col("__chunk")), effSort)
          .drop("__chunk"),
        staged.toString, Seq("hk_bucket"))
      writeLayout(fs, staged, TableLayout(newBuckets, key, effSort))
      Lake.beforeCommitHook(s"$layer.$name")
      // same concurrent-append detection as compact's
      verifySourceUnchanged(fs, curDir, staged, leaves, s"rebucket($layer.$name)")
      verifyStaged(fs, staged, s"rebucket($layer.$name)")
      fs.create(new Path(staged, Lake.CommitMarker), /* overwrite = */ false).close()
      refresh(layer, name)
      onGenerationSwap(layer, name)
      (before, after)
    }
  }

  /** Delete data superseded by the table's current committed generation:
    * committed generations BELOW the current one, uncommitted staged
    * generations (crashed compactions), and — once any generation is
    * committed — the legacy flat data files in the table root. Runs
    * automatically at the start of every [[compact]]/[[rebucket]] (so
    * superseded data survives at least one compaction cycle for in-flight
    * readers — see the retention note there) and, under the
    * `spark.graft.gen.retainMillis` policy, age-gated after bucketed
    * appends; call directly to reclaim the ≤ 2× storage immediately once
    * concurrent readers are known drained (the explicit call ignores the
    * retention window — it IS the operator's drain statement). Claim-gated
    * like compact: calling this while a compaction of the same table is
    * in flight gets a typed Concurrency refusal instead of deleting the
    * compaction's staged generation mid-write (r18 ADVICE finding).
    * Returns the number of root entries deleted. No-op on a flat table
    * with no generation leftovers and on absent tables. */
  def expireSuperseded(layer: String, name: String): Long = {
    val root = new Path(tablePath(layer, name))
    val fs = fsOf(root)
    // absent-table guard BEFORE the claim: the claim marker's create would
    // otherwise materialize the table dir and flip exists() to true
    if (!fs.exists(root)) return 0L
    withCompactionClaim(layer, name, "expireSuperseded") {
      expireInternal(fs, root, layer, name, minAgeMillis = 0L)
    }
  }

  /** The expire pass itself — callers hold the compaction claim. An item is
    * reclaimable when it is superseded (a committed generation above it
    * exists) AND its superseding generation's commit marker is at least
    * `minAgeMillis` old (0 = immediately). Uncommitted staged generations
    * are crashed leftovers by definition under the claim (a live staging
    * writer would hold it) and are reclaimed regardless of age. The claim
    * marker itself and the current generation are never touched. */
  private def expireInternal(
      fs: org.apache.hadoop.fs.FileSystem, root: Path,
      layer: String, name: String, minAgeMillis: Long): Long = {
    if (!fs.exists(root)) return 0L
    val entries = fs.listStatus(root)
    val committed = entries.iterator
      .filter(_.isDirectory)
      .flatMap(s => genNumber(s.getPath).map(_ -> s.getPath))
      .filter { case (_, p) => fs.exists(new Path(p, Lake.CommitMarker)) }
      .toArray.sortBy(_._1)
    val cur = committed.lastOption
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
    // doomed entry -> the superseding generation that makes it reclaimable
    // (None for uncommitted staged leftovers, which have no superseder and
    // no orphan check — a LIVE stager's loss is already loud on its own
    // side via verifyStaged)
    val doomed: Array[(org.apache.hadoop.fs.FileStatus, Option[Path])] =
      entries.iterator.flatMap { s =>
        genNumber(s.getPath) match {
          case Some(n) if cur.exists(_._1 == n) => None // the current generation
          case Some(n) =>
            committed.find(_._1 > n) match {
              case Some((_, superseder)) if committed.exists(_._1 == n) =>
                if (agedOut(superseder)) Some(s -> Some(superseder)) else None
              case _ => Some(s -> None) // uncommitted staging: crashed leftover (we hold the claim)
            }
          case None =>
            // non-generation root entry (flat part files, hk_bucket= dirs,
            // _SUCCESS, the root layout record): legacy data once any
            // generation is committed — but never the claim marker we hold,
            // and never a root layout record the CURRENT generation doesn't
            // carry its own copy of (the manual-migration shape: a table
            // compacted before layout records existed, record added at the
            // root afterwards — resolution falls back to the root record,
            // and deleting it would silently regress the table to
            // session-conf bucket resolution, the exact drift the record
            // prevents; the next compact copies it into its generation,
            // after which the root copy is reclaimable as usual)
            val reclaimable =
              s.getPath.getName != Lake.CompactClaim &&
                !(s.getPath.getName == Lake.LayoutFile &&
                  cur.exists { case (_, d) => !fs.exists(new Path(d, Lake.LayoutFile)) }) &&
                cur.exists { case (_, d) => agedOut(d) }
            if (reclaimable) Some(s -> cur.map(_._2)) else None
        }
      }.toArray
    // ORPHAN-WRITE REFUSAL, checked for ALL doomed entries before deleting
    // ANY. Why refuse rather than have compact ABSORB the orphans into its
    // rewrite (considered, r19 ADVICE): absorption would silently merge
    // rows from a writer whose view of the table was WRONG — if the
    // operator already re-ingested them (the documented recovery), absorb
    // would double them; and an orphan file can carry a pre-evolution
    // schema the current generation no longer matches. Data that appeared
    // under a violated contract needs a human decision, not a silent
    // merge; the refusal message spells out the exact recovery.
    // "Superseded" means the data predates its superseding commit. A
    // parquet file (or a dir holding one) whose newest data mtime POSTDATES
    // the superseder's marker was written AFTER the generation swap — a
    // writer routed by a stale resolution (a cross-process Lake whose cache
    // still pointed at the old generation, or at the flat root) appended
    // rows the current generation never absorbed. Deleting it is silent
    // data loss; refuse with a typed error instead and leave the operator
    // to reconcile (re-ingest the orphaned rows into the current
    // generation, then expire). Marker and data mtimes come from the SAME
    // store, so the comparison needs no clock-skew margin. Cost: one leaf
    // walk per doomed entry per expire — compaction-cadence, not hot-path.
    def newestDataMtime(s: org.apache.hadoop.fs.FileStatus): Option[Long] =
      if (s.isDirectory)
        parquetLeaves(fs, s.getPath).map(_.getModificationTime).maxOption
      else if (s.getPath.getName.endsWith(".parquet")) Some(s.getModificationTime)
      else None // markers/_SUCCESS/records hold no rows — no loss in deleting
    doomed.foreach { case (s, superseder) =>
      superseder.foreach { d =>
        val marker = scala.util.Try(
          fs.getFileStatus(new Path(d, Lake.CommitMarker)).getModificationTime).toOption
        newestDataMtime(s).foreach { dataT =>
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
    if (paths.nonEmpty) refresh(layer, name)
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
    if (retain < 0L) return
    val root = new Path(tablePath(layer, name))
    val fs = fsOf(root)
    if (!fs.exists(root)) return
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
      // Best-effort holds for the reclaim PASS too, not just the claim gate:
      // expireInternal can throw the orphan-write Concurrency refusal (or a
      // transient IO error), and this hook runs AFTER the append's rows
      // committed — letting it escape would fail every subsequent append and
      // streaming micro-batch on a table with one orphaned file, a
      // persistent crash loop until manual cleanup (r19 ADVICE finding).
      // Loud once per table, then quiet: the explicit
      // compact/expireSuperseded calls keep the full refusal.
      try { expireInternal(fs, root, layer, name, retain); () }
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
    val res = resolution(layer, name)
    res.layout.foreach(noteDrift(layer, name, _))
    val n = res.layout.map(_.bucketCount).getOrElse(bucketCount)
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
  /** Session-conf key for the default bucket count of lakes constructed
    * without an explicit `buckets` arg (SURVEY §4). Applies to NEW tables;
    * existing tables' layout records govern themselves. */
  val BucketsKey = "spark.graft.buckets"
  val DefaultBuckets = 16
  /** Sentinel default for the constructor arg: "resolve from conf". */
  val FromConf: Int = -1
  /** Generation-directory name prefix (`{table}/_gen-N/`). Underscore:
    * Spark's file index treats `_`/`.`-prefixed paths as hidden, so a
    * staged generation is invisible to readers of the flat layout. */
  val GenPrefix = "_gen-"
  /** Marker file whose CREATE inside a generation dir is compaction's
    * atomic commit point ([[Lake.compact]] commit posture). */
  val CommitMarker = "_graft_committed"
  /** Per-table layout record file name ([[TableLayout]]); lives beside the
    * data it describes (table root, or generation dir once compacted).
    * Underscore-prefixed → hidden from Spark's file index. */
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

  /** Walks executed plans through AQE wrappers and query stages. */
  private object PlanWalk extends org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper

  /** JVM-wide (data dir, layout) resolution cache keyed by table path —
    * shared across Lake instances over the same root so any instance's
    * write invalidates for all (see [[Lake.resolution]] staleness note). */
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
