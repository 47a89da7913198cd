package graft.core

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession

/** Cluster-portable scratch locations for intermediate landings (connected-
  * components label parquet, frozen IVF centroids, Verify's aux dir).
  *
  * Driver-local `Files.createTempDirectory` / literal `"/tmp/..."` paths
  * work under local[n] but break the moment the code runs distributed:
  * executors and the driver no longer share a filesystem, so a Spark write
  * to a driver-local path scatters part files across machines and the
  * read-back sees nothing. Every scratch landing therefore resolves
  * against ONE configurable root:
  *
  *   - `spark.graft.scratch.dir` (session conf), when set — any
  *     Hadoop-resolvable URI (`hdfs://...`, `s3a://...`, `file:///...`).
  *     On a cluster this must point at shared storage.
  *   - otherwise the JVM temp dir (`java.io.tmpdir`, normally `/tmp`) —
  *     exactly the previous local-mode behavior, so default paths (and the
  *     oracle hashes that read them) are unchanged.
  *
  * All path handling goes through the Hadoop FS API so a non-local scheme
  * works end to end (creation, exists-checks, JVM-exit cleanup).
  */
object Scratch {
  val ConfKey = "spark.graft.scratch.dir"

  /** The scratch root: `spark.graft.scratch.dir` if set, else the local JVM
    * temp dir. No trailing slash. */
  def root(spark: SparkSession): String =
    spark.conf.getOption(ConfKey)
      .getOrElse(sys.props.getOrElse("java.io.tmpdir", "/tmp"))
      .stripSuffix("/")

  /** A fresh unique directory path under the root. NOT created here (Spark
    * writers create their target themselves, and a pre-created dir would
    * trip `mode("error")` writers) and therefore NOT reaped at JVM exit:
    * Hadoop's `FileSystem.deleteOnExit` silently refuses paths that don't
    * exist yet, so the registration this method used to make was a no-op —
    * and Verify's aux dir (frozen centroids the DuckDB compare reads from
    * a SEPARATE process after this JVM exits) works precisely because the
    * path survives. Callers own the lifecycle; for self-reaping ephemeral
    * dirs use [[streamTempDir]]. */
  def tempDir(spark: SparkSession, prefix: String): String = {
    val p = new Path(root(spark), prefix + java.util.UUID.randomUUID().toString.replace("-", ""))
    p.toString
  }

  /** A STABLE (deliberately reusable across calls and JVMs) path under the
    * root, for cross-run caches keyed by `name` — e.g. the frozen IVF
    * centroids keyed by corpus dir. Not scheduled for deletion. */
  def stablePath(spark: SparkSession, name: String): String =
    new Path(root(spark), name).toString

  /** Scratch root for EPHEMERAL streaming replays (the oracle/bench lakes
    * that stage a finite file stream, run one AvailableNow pass, and are
    * reaped at JVM exit). Structured Streaming fsyncs its checkpoint
    * (offset log, commit log, state store snapshots) once per micro-batch
    * per partition — on this container's disk that I/O held
    * events_stream_join at a ~7 s floor that RAM backing removes
    * (measurements in BASELINE.md). Resolution: the
    * [[ConfKey]] override wins as usual; else `/dev/shm` when present and
    * writable (Linux tmpfs); else the JVM tmpdir. NOT for production
    * streams — a durable checkpoint on shared storage is what makes a
    * real stream recoverable, and `FlowExecutor.streamFlow` takes that path
    * explicitly from the caller. */
  def streamRoot(spark: SparkSession): String =
    spark.conf.getOption(ConfKey).getOrElse {
      val shm = new java.io.File("/dev/shm")
      if (shm.isDirectory && shm.canWrite) "/dev/shm"
      else sys.props.getOrElse("java.io.tmpdir", "/tmp")
    }.stripSuffix("/")

  /** [[tempDir]] against [[streamRoot]], PRE-CREATED and genuinely reaped
    * at JVM exit. The creation is what makes the reaping real: Hadoop's
    * `FileSystem.deleteOnExit` silently refuses nonexistent paths, so the
    * previous register-then-let-Spark-create order leaked every dir — on
    * the default `/dev/shm` root that is RAM, one checkpoint + staged lake
    * per streaming bench rep, accumulating until the host exhausts shared
    * memory. Callers (streaming checkpoint roots, ephemeral lake roots,
    * overwrite-mode landings) all tolerate an existing empty dir; a
    * `mode("error")` writer must use a subpath or [[tempDir]]. */
  def streamTempDir(spark: SparkSession, prefix: String): String = {
    val p = new Path(streamRoot(spark), prefix + java.util.UUID.randomUUID().toString.replace("-", ""))
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.mkdirs(p)
    fs.deleteOnExit(p)
    p.toString
  }
}
