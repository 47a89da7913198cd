package graft
import org.apache.spark.sql.SparkSession
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    // Shared standing tuning — ONE definition with Bench
    // (graft.core.Sessions), so the config that gets verified is the
    // config that gets benched.
    val spark = graft.core.Sessions.localBuilder(cpus, shuffleParts = cpus)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    new java.io.File(outDir).mkdirs()
    // Frozen-centroid parquet goes in a PER-RUN private dir: a bench run on
    // the same corpus (which uses the shared /tmp cache path) can then never
    // replace the file between this dump and the driver's DuckDB compare,
    // and retraining under a different thread count can't shift the floats
    // the oracle reads. The dir must NOT be inside outDir — the driver
    // sweeps outDir treating every subdirectory as a query result, so a
    // centroids parquet there reads as a crashed query. The oracle_sql
    // substitution below resolves against the same property, so SQL and
    // data always agree. Routed
    // through Scratch (cluster-portable root; local JVM tmpdir by default —
    // the DuckDB compare reads this path on the driver host, so only set
    // spark.graft.scratch.dir to a location the comparing process can see).
    System.setProperty("graft.centroids.dir",
      graft.core.Scratch.tempDir(spark, "graft_verify_aux_"))
    var errors = Map.empty[String, String]
    // Optional comma-separated filter for focused local iteration (the
    // driver never sets it); oracle_sql.json is filtered to match so
    // tools/preverify.py only checks what was dumped.
    val only = sys.env.get("SPARK_GRAFT_VERIFY_ONLY").map(_.split(',').map(_.trim).toSet)
    // Unknown names fail fast: a typo'd filter would dump zero results and
    // oracle_sql.json={} — preverify then prints 0/0 passed, a green gate
    // over zero checked queries.
    only.foreach { names =>
      val unknown = names -- SparkEntry.queries.keySet
      require(unknown.isEmpty,
        s"SPARK_GRAFT_VERIFY_ONLY names unknown queries: ${unknown.mkString(", ")}")
    }
    SparkEntry.queries
      .filter { case (name, _) => only.forall(_.contains(name)) }
      .foreach { case (name, fn) =>
      val target = new java.io.File(s"$outDir/$name")
      // A failed query must leave NO output behind — a stale result from a
      // previous run would otherwise be compared (and could pass) in its
      // place. Delete up front and again if the write dies midway.
      org.apache.commons.io.FileUtils.deleteQuietly(target)
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        org.apache.commons.io.FileUtils.deleteQuietly(target)
        errors += name -> s"${e.getClass.getName}: ${Option(e.getMessage).getOrElse("")}"
        System.err.println(s"[verify] FAILED $name: ${e.getMessage}")
      }
    }
    if (errors.nonEmpty) {
      // Loud summary at the end so a swallowed per-query failure can't hide
      // in the scrollback.
      System.err.println(s"[verify] ${errors.size} QUERIES FAILED: ${errors.keys.toSeq.sorted.mkString(", ")}")
    }
    def q(s: String): String = graft.core.Json.str(s)
    // oracleSql is static, but the frozen-centroid oracle must read the
    // parquet THIS corpus's Spark run wrote — substitute the corpus-keyed
    // path at dump time so a bench on another scale factor can't clobber
    // the file between this dump and the DuckDB compare.
    val json = SparkEntry.oracleSql
      .filter { case (k, _) => only.forall(_.contains(k)) }
      .map { case (k, v) =>
        val sql = v.replace(
          graft.queries.Ann.CentroidPathToken,
          graft.queries.Ann.frozenCentroidsPath(spark, sfDir))
        s"${q(k)}: ${q(sql)}"
      }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
    // Nonzero exit on ANY query failure, like Bench: oracle-keyed failures
    // are caught downstream by preverify's MISSING check, but the rows-only
    // queries (knn_ivf_kmeans, text_tokens_bpe — no oracle_sql entry) are
    // not: a crashed rows-only query left no result dir, no MISSING row,
    // and preverify printed N/N passed — a green gate over a crashed query.
    // Everything above (results, oracle_sql.json, the stderr summary) is
    // already written, so the driver still gets the full artifact.
    if (errors.nonEmpty) sys.exit(1)
  }
}
