package graft

import java.sql.Timestamp

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col

import graft.core.{Lake, ScriptViews}
import graft.dv.{DvOps, HashGen, HashView, VaultSchemas}
import graft.etl.{FlowExecutor, FlowResult, Staging}
import graft.meta.MetaStore

/** Top-level facade — the Spark-native counterpart of the reference's
  * `MallardDataVault` entry class (mallarddv/mallarddv.py:23-430). One object
  * wires lake + metadata + flow executor + script views behind the same
  * surface a reference user drives:
  *
  *   reference                        graft
  *   ------------------------------  -------------------------------------
  *   MallardDataVault(db, scripts)   Graft(spark, lakeRoot, meta, scripts)
  *   .sql(...)                       .sql(...)           (Spark SQL)
  *   .init_mallard_db(...)           .initVault()        (lake layout + views)
  *   .compute_hash_view(stg)         .hashView(stg)
  *   .load_related_hubs/links/sats   .executeFlow(...)   (single flow call)
  *   .create_*_from_metadata         .initVault() / VaultSchemas builders
  *   .create_current_sat_*           .currentView(sat)
  *   .apply_script_from_metadata     .applyScripts(relType)
  *   .execute_flow(...)              .executeFlow(...)
  *   .overwrite_metadata_from_files  MetaStore.fromCsv + new Graft(...)
  *
  * Everything is lazy DataFrames over the lake — `sql`/`table` results
  * compose with any Spark code the user already has.
  */
final class Graft(
    val spark: SparkSession,
    val lakeRoot: String,
    val meta: MetaStore,
    val scriptsPath: Option[String] = None,
    val algo: HashGen.Algo = HashGen.Sha1,
    // Lake.FromConf: the spark.graft.buckets session conf pins the count
    // when set; unset, each new table's count follows its size (Lake's
    // BUCKET-COUNT RESOLUTION). An explicit count pins it.
    val buckets: Int = Lake.FromConf
) {

  val lake = new Lake(spark, lakeRoot, buckets)
  val flow = new FlowExecutor(lake, meta, algo)

  // After every lake write, the catalog tables over the written table
  // (`stg.<name>`, the `dv.__<name>__data` backing table) drop the
  // relation the session catalog cached under their names, file listing
  // included — a map removal, no listing; the next query re-lists. Without
  // it `stg.<name>` and `dv.<name>` would miss appended files and chase
  // overwritten or expired ones. `dv.<name>` is re-registered only when
  // the write committed a generation (a first write, compact, rebucket,
  // overwrite), so reference-style qualified SQL keeps working across
  // compactions while a plain append pays no registration check.
  // Best-effort: a catalog hiccup must not fail the write that already
  // landed — but it must not be SILENT either (a stale registration serves
  // the superseded generation until expire turns it into FILE_NOT_FOUND
  // with no trace): failures print a stderr note naming the fix.
  lake.onWrite = (layer, name, committed) =>
    if (layer == "stg") invalidateCached(layer, name)
    else if (layer == "dv") {
      try {
        invalidateCached(layer, Graft.dvBackingName(name))
        if (committed) registerDvTable(name)
      } catch {
        case scala.util.control.NonFatal(e) =>
          Console.err.println(
            s"[graft] NOTE: re-registering dv.$name after a write failed " +
              s"(${Option(e.getMessage).getOrElse(e.getClass.getName).linesIterator.mkString(" ")}); " +
              s"the catalog name may serve the superseded generation until re-registered " +
              s"(initVault or createHub/createLink/createSat re-register it).")
      }
    }

  private def invalidateCached(db: String, table: String): Unit =
    spark.sessionState.catalog.invalidateCachedTable(
      org.apache.spark.sql.catalyst.TableIdentifier(table, Some(db)))

  /** Raw SQL escape hatch (reference mallarddv.py:87). */
  def sql(sqlText: String): DataFrame = spark.sql(sqlText)

  /** Parameterized SQL with positional `?` markers (reference
    * mallarddv.py:87-98 `sql(sql_str, sql_args)`). Literals are bound by
    * the parser, not spliced into the text — the injection-safe path the
    * reference's list-args API provides on DuckDB. */
  def sql(sqlText: String, args: Seq[Any]): DataFrame =
    spark.sql(sqlText, args.toArray)

  /** Parameterized SQL with named `:name` markers (Spark-side extension —
    * same binding mechanics, friendlier for many-arg queries). */
  def sql(sqlText: String, args: Map[String, Any]): DataFrame =
    spark.sql(sqlText, args)

  /** A lake table as a DataFrame (`layer.name`). Vault (`dv`) tables the
    * metadata declares are read with their metadata-derived schema imposed
    * ([[readDv]]) so evolved tables — old part files missing a
    * later-added column — read deterministically with NULL backfill. */
  def table(layer: String, name: String): DataFrame =
    if (layer == "dv") readDv(name) else lake.read(layer, name)

  /** Metadata-derived expected schema of a dv table (hub_/link_/nhl_/
    * hsat_/lsat_ naming), when the metadata declares it — the same
    * derivation the create path uses, so create and read can't diverge. */
  private def dvSchemaOf(name: String): Option[org.apache.spark.sql.types.StructType] =
    meta.tables.groupBy(t => (t.relType, t.baseName)).collectFirst {
      case ((rt, base), cols) if s"${rt}_$base" == name && rt == "hub" =>
        VaultSchemas.hub(base, cols)
      case ((rt, base), cols) if s"${rt}_$base" == name && (rt == "link" || rt == "nhl") =>
        VaultSchemas.link(base, cols)
      case ((rt, base), cols) if s"${rt}_$base" == name && (rt == "hsat" || rt == "lsat") =>
        VaultSchemas.sat(satHkOf(base, cols), cols)
    }

  /** Read a dv table with the metadata-expected schema imposed (the
    * schema-evolution contract — [[graft.core.Lake.readOr]] doc); falls
    * back to a raw read for tables the metadata doesn't describe. */
  private def readDv(name: String): DataFrame =
    dvSchemaOf(name).map(lake.readOr("dv", name, _)).getOrElse(lake.read("dv", name))

  /** When set, per-entity create/load calls echo what they are about to do
    * and the optimized Spark plan of each load — the Spark counterpart of
    * the reference's `verbose=True` SQL echo (mallarddv.py:100-172 prints
    * the generated SQL before executing it). */
  @volatile var verbose: Boolean = false

  private def echo(what: String, df: => DataFrame): Unit =
    if (verbose) {
      println(s"[graft] $what")
      println(df.queryExecution.explainString(org.apache.spark.sql.execution.SimpleMode))
    }

  /** Layer databases in the session catalog, so user scripts written for the
    * reference (`... from stg.customer`, `create view stg.customer_vw ...`)
    * run verbatim through spark.sql. Idempotent. */
  private def ensureLayerDatabases(): Unit =
    Seq("stg", "dv", "bv", "dm").foreach(l => spark.sql(s"CREATE DATABASE IF NOT EXISTS $l"))

  // Data creation happens only when missing, but catalog/view registration
  // runs UNCONDITIONALLY: a new session re-opening an existing lake has an
  // empty in-memory catalog and still needs `stg.<name>` and `<sat>_cv`.
  private def ensure(layer: String, name: String, schema: org.apache.spark.sql.types.StructType): Option[String] = {
    val made =
      if (lake.exists(layer, name)) None
      else {
        if (verbose) println(s"[graft] create $layer.$name (${schema.map(_.name).mkString(", ")})")
        // repartition(1) forces one (empty) part file so the location carries
        // a readable schema for the catalog table below.
        lake.overwrite(spark.createDataFrame(
          spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema).repartition(1), layer, name)
        Some(s"$layer.$name")
      }
    // Staging tables are truncate-and-load, which recommits `gen-1` every
    // time → safe to expose as catalog TABLES at that stable
    // [[Lake.dataPath]] (not the root: a root holding two generations
    // would read both). Vault tables get a VIEW surface instead
    // ([[registerDvTable]] — the view text pins the CURRENT generation dir
    // and is re-registered on swaps). Drop-then-create so a leftover
    // registration from another lake in this session can't shadow this
    // one (the catalog holds one `stg.<name>` per session).
    if (layer == "stg") {
      spark.sql(s"DROP TABLE IF EXISTS $layer.$name")
      spark.sql(s"CREATE TABLE $layer.$name USING PARQUET " +
        s"LOCATION '${Graft.sqlLit(lake.dataPath(layer, name))}'")
    }
    made
  }

  private def metaEntities(relTypes: Set[String], baseName: Option[String]): Seq[((String, String), Seq[graft.meta.TableColumn])] =
    meta.tables.groupBy(t => (t.relType, t.baseName)).toSeq.sortBy(_._1)
      .filter { case ((rt, base), _) => relTypes(rt) && baseName.forall(_ == base) }

  /** Create staging tables from metadata, optionally for one entity —
    * reference create_staging_table_from_metadata (mallarddv.py:341-356).
    * Returns the `layer.name`s actually created (existing ones are left
    * alone, like the reference's IF NOT EXISTS DDL). */
  def createStagingTable(baseName: Option[String] = None): Seq[String] = {
    ensureLayerDatabases()
    metaEntities(Set("stg"), baseName).flatMap { case ((_, base), cols) =>
      ensure("stg", base, VaultSchemas.staging(cols))
    }
  }

  /** Create hub tables from metadata, optionally for one entity — reference
    * create_hub_from_metadata (mallarddv.py:264-278). The incremental
    * schema-evolution entry point: `createHub(Some("order"))` adds one hub
    * to a live vault without re-running initVault. */
  def createHub(baseName: Option[String] = None): Seq[String] = {
    ensureLayerDatabases()
    metaEntities(Set("hub"), baseName).flatMap { case ((_, base), cols) =>
      val made = ensure("dv", s"hub_$base", VaultSchemas.hub(base, cols))
      // a table ensure just made was registered by its first commit's write hook
      if (made.isEmpty) registerDvTable(s"hub_$base")
      made
    }
  }

  /** Create link / non-historized-link tables — reference
    * create_link_from_metadata (mallarddv.py:280-297); `relType` filters to
    * "link" or "nhl" like the reference's rel_type arg. */
  def createLink(baseName: Option[String] = None, relType: Option[String] = None): Seq[String] = {
    ensureLayerDatabases()
    metaEntities(Set("link", "nhl").filter(rt => relType.forall(_ == rt)), baseName)
      .flatMap { case ((rt, base), cols) =>
        val made = ensure("dv", s"${rt}_$base", VaultSchemas.link(base, cols))
        if (made.isEmpty) registerDvTable(s"${rt}_$base")
        made
      }
  }

  /** Create satellite tables — reference create_sat_from_metadata
    * (mallarddv.py:299-317); `relType` filters to "hsat" or "lsat". Also
    * registers the `<sat>_cv` current view (the reference creates those in
    * the same metadata sweep). */
  def createSat(baseName: Option[String] = None, relType: Option[String] = None): Seq[String] = {
    ensureLayerDatabases()
    metaEntities(Set("hsat", "lsat").filter(rt => relType.forall(_ == rt)), baseName)
      .flatMap { case ((rt, base), cols) =>
        val made = ensure("dv", s"${rt}_$base", VaultSchemas.sat(satHkOf(base, cols), cols))
        registerSatSurfaces(s"${rt}_$base", satHkOf(base, cols), registerDv = made.isEmpty)
        made
      }
  }

  /** (Re-)register latest-row current views over satellites — reference
    * create_current_sat_from_metadata (mallarddv.py:319-339). Returns the
    * view names registered. */
  def createCurrentSat(baseName: Option[String] = None, relType: Option[String] = None): Seq[String] =
    metaEntities(Set("hsat", "lsat").filter(rt => relType.forall(_ == rt)), baseName)
      .filter { case ((rt, base), _) => lake.exists("dv", s"${rt}_$base") }
      .map { case ((rt, base), cols) =>
        registerSatSurfaces(s"${rt}_$base", satHkOf(base, cols))
        s"${rt}_${base}_cv"
      }

  /** Initialize the vault: materialize empty hub/link/sat/staging tables
    * from metadata so first loads and views have a schema to bind to, and
    * register script views when a scripts path is set (reference
    * init_mallard_db). Idempotent — existing tables are left alone. */
  def initVault(): Seq[String] = {
    val created = scala.collection.mutable.ArrayBuffer.empty[String]
    created ++= createStagingTable()
    created ++= createHub()
    created ++= createLink()
    created ++= createSat()
    scriptsPath.foreach { p =>
      Seq("stg_vw", "bv_vw", "dm_vw").foreach { rt =>
        if (meta.getTables(relType = Some(rt)).nonEmpty)
          created ++= ScriptViews.apply(spark, meta, rt, p).map(v => s"$rt.$v")
      }
    }
    created.toSeq
  }

  private def satHkOf(base: String, cols: Seq[graft.meta.TableColumn]): String =
    cols.find(_.mapping == "hk").map(c => s"${c.columnName}_hk").getOrElse(s"${base}_hk")

  /** Register `dv.<name>` in the session catalog, pointed at the table's
    * CURRENT data directory — the reference's `sql()` escape hatch queries
    * `dv.hub_customer` directly (mallarddv.py:87; everything lives in
    * DuckDB schemas), and a reference user's SQL habits should work
    * verbatim here. Two catalog objects per vault table:
    *
    *  - `dv.__<name>__data`: an EXTERNAL table with the metadata-derived
    *    schema declared explicitly, located at [[Lake.dataPath]]. The
    *    explicit schema gives the same imposed-schema contract as
    *    [[readDv]] — files predating a metadata-added column (or columns
    *    the flow's payload never writes) read as NULL instead of failing
    *    resolution — and Spark appends the discovered `hk_bucket`
    *    partition column, so filters on it prune files.
    *  - `dv.<name>`: a view selecting exactly the declared columns, i.e.
    *    the reference's column surface without the internal bucket column.
    *
    * Generation-following: called by the [[Lake.onWrite]] hook after every
    * generation commit (a table's first write, compact/rebucket), it
    * re-registers only when the location moved; within a generation the
    * hook's invalidation of the backing table's cached relation is enough.
    * Undeclared or not-yet-created tables are skipped. */
  private def registerDvTable(name: String): Unit =
    dvSchemaOf(name).foreach { schema =>
      if (lake.exists("dv", name)) {
        spark.sql("CREATE DATABASE IF NOT EXISTS dv")
        val backing = Graft.dvBackingName(name)
        val ddlCols = schema.fields.map(f => s"`${f.name}` ${f.dataType.sql}").mkString(", ")
        val location = lake.dataPath("dv", name)
        // IDEMPOTENT: when the existing registration already points at the
        // current generation with the current declared columns, skip the
        // DDL — repeat createHub/createSat calls (the incremental
        // schema-evolution entry points) and every initVault on a live
        // session become catalog no-ops, and the brief DROP→CREATE
        // not-found window for concurrent dv.<name> readers exists only
        // when a swap/evolution actually moved something (r20 review).
        val current = scala.util.Try {
          val t = spark.sessionState.catalog.getTableMetadata(
            org.apache.spark.sql.catalyst.TableIdentifier(backing, Some("dv")))
          // compare LOCATIONS fully qualified — the catalog stores a
          // qualified URI while dataPath may be scheme-less
          def qual(p: String) = {
            val pp = new org.apache.hadoop.fs.Path(p)
            pp.getFileSystem(spark.sparkContext.hadoopConfiguration)
              .makeQualified(pp).toString
          }
          qual(t.location.toString) == qual(location) &&
            t.schema.filterNot(_.name == "hk_bucket").map(f => (f.name, f.dataType)) ==
              schema.fields.toSeq.map(f => (f.name, f.dataType)) &&
            spark.catalog.tableExists(s"dv.$name")
        }.getOrElse(false)
        if (!current) {
          spark.sql(s"DROP TABLE IF EXISTS dv.`$backing`")
          spark.sql(
            s"CREATE TABLE dv.`$backing` ($ddlCols) USING PARQUET " +
              s"LOCATION '${Graft.sqlLit(location)}'")
          val cols = schema.fieldNames.map(f => s"`$f`").mkString(", ")
          spark.sql(s"CREATE OR REPLACE VIEW dv.`$name` AS SELECT $cols FROM dv.`$backing`")
          ()
        }
      }
    }

  /** Register the QUALIFIED current view `bv.<sat>_cv` (the reference
    * creates current views in its `bv` schema — CREATE_CURRENT_VIEW in
    * db/sql_templates.py — so reference SQL says `bv.<sat>_cv`). Pure-SQL
    * re-expression of [[DvOps.latestRows]]: `max(struct(load_dts, run_id,
    * hash_diff, rest…))` picks the same row (struct comparison is
    * field-by-field, same ordering prefix), re-projected to the
    * satellite's column order. Defined OVER `dv.<sat>` by name, so it
    * follows generations for free once [[registerDvTable]] re-registers.
    * The unqualified `<sat>_cv` temp views remain (back-compat surface). */
  private def registerBvCurrentView(satTable: String, hk: String): Unit =
    dvSchemaOf(satTable).foreach { schema =>
      if (spark.catalog.tableExists(s"dv.$satTable")) {
        spark.sql("CREATE DATABASE IF NOT EXISTS bv")
        val ord = DvOps.DefaultOrdering
        val payload = schema.fieldNames.filterNot(_ == hk)
        val structCols = (ord ++ payload.filterNot(ord.contains)).map(f => s"`$f`").mkString(", ")
        val outer = schema.fieldNames
          .map(f => if (f == hk) s"`$hk`" else s"__r.`$f` AS `$f`").mkString(", ")
        // max(struct(...)) is the MEASURED-BEST latest-row shape for this
        // surface, not a compromise (r21 adjudication, bench/r21_bvprof_*
        // .log + SkewBench skew_bv_cv): Spark plans it as a two-phase
        // SortAggregate whose MAP-SIDE PARTIAL collapses each scan task to
        // <= 1 row per key BEFORE the exchange — per-task in-memory sorts
        // of split-bounded chunks, minimum shuffle bytes, skew-immune (a
        // hot key collapses per task). Profiled at sf10 against (a) the
        // graft_latest two-phase hash shape: 7-9x WORSE on many-key
        // satellites (per-task groups blow the ObjectHashAggregate
        // fallback threshold) and (b) the clusterBy+graft_latest engine
        // shape: ~5x worse on wide-payload deep histories (ships the full
        // history through the exchange; the partial collapse doesn't).
        // Persistent views also CANNOT reference injected functions
        // (verifyTemporaryObjectsNotExists), so graft_latest in the text
        // would break CREATE VIEW outright. PlanSpec pins the collapse
        // shape (one Exchange, partial aggregate below it, no Window).
        spark.sql(
          s"CREATE OR REPLACE VIEW bv.`${satTable}_cv` AS SELECT $outer FROM " +
            s"(SELECT `$hk`, max(struct($structCols)) AS __r FROM dv.`$satTable` GROUP BY `$hk`) __t")
        ()
      }
    }

  /** A satellite's THREE registration surfaces, in dependency order —
    * dv view first (bv.<sat>_cv is defined over it; a fresh session over
    * an existing lake reaches here without createSat having run), then
    * the unqualified temp view, then the qualified bv view. The single
    * definition createSat and createCurrentSat share; `registerDv` is false
    * for a table just created, which its first commit already registered
    * ([[Lake.onWrite]]). */
  private def registerSatSurfaces(satTable: String, hk: String, registerDv: Boolean = true): Unit = {
    if (registerDv) registerDvTable(satTable)
    registerCurrentView(satTable, hk)
    registerBvCurrentView(satTable, hk)
  }

  private def registerCurrentView(satTable: String, hk: String): Unit =
    DvOps.currentRows(readDv(satTable), hk).createOrReplaceTempView(s"${satTable}_cv")

  /** Re-register metadata-declared current views over the lake's CURRENT
    * file listing (temp-view plans pin the listing at registration). `only`
    * restricts to the named sat tables — flows refresh just what they
    * touched instead of re-listing every satellite. */
  private def refreshCurrentViews(only: Option[Set[String]] = None): Unit =
    meta.tables.groupBy(t => (t.relType, t.baseName)).foreach {
      case ((relType, base), cols) if relType == "hsat" || relType == "lsat" =>
        val table = s"${relType}_$base"
        if (only.forall(_.contains(table)) && lake.exists("dv", table))
          registerCurrentView(table, satHkOf(base, cols))
      case _ => ()
    }

  /** Compact a vault table and re-register any current view pinned to its
    * old files ([[Lake.compact]] alone would leave `<sat>_cv` chasing
    * deleted parts). Satellites are rewritten sorted by (hk, load_dts)
    * within each output file: as-of queries (PIT) filter `load_dts` across
    * the full history, and parquet min/max row-group pruning only engages
    * when rows are load_dts-clustered within files — append order
    * interleaves ranges and defeats it. */
  def compact(layer: String, name: String): (Long, Long) = {
    val sortBy =
      if (layer == "dv" && (name.startsWith("hsat_") || name.startsWith("lsat_")))
        dvSchemaOf(name).map(_.fieldNames.toSeq).collect {
          case names if names.length >= 2 && names.contains("load_dts") =>
            Seq(names.head, "load_dts")
        }.getOrElse(Nil)
      else Nil
    val r = lake.compact(layer, name, sortBy)
    refreshCurrentViews(Some(Set(name)))
    r
  }

  /** Metadata-driven hash view over a staging table (reference
    * compute_hash_view; here a lazy DataFrame, not a stored view).
    * Resolves the source like the flow executor does — lake `stg` table
    * when the metadata declares one, session-catalog view otherwise — so
    * view-backed sources (stg_vw flows) work here and in the verbose echo
    * exactly as they do in the loads themselves (a lake-only read crashed
    * PATH_NOT_FOUND on them, turning verbose=true into a crash). */
  def hashView(stgTable: String): DataFrame =
    HashView.build(flow.stagingDf(stgTable), meta.getTransitions(stgTable), algo)

  /** Latest-row current view of a satellite (reference
    * create_current_sat_from_metadata); registered as `<sat>_cv`. */
  def currentView(satTable: String): DataFrame = {
    val sat = readDv(satTable)
    val hk = sat.columns.headOption.getOrElse(
      throw new IllegalArgumentException(s"empty satellite: $satTable"))
    val cv = DvOps.currentRows(sat, hk)
    cv.createOrReplaceTempView(s"${satTable}_cv")
    cv
  }

  /** Apply one script-view layer (reference apply_script_from_metadata).
    * No scripts path configured → typed DVConfigurationError, matching the
    * reference's raise (exceptions.py:31-33). Layer databases are ensured
    * first: a fresh session re-opening an existing lake has an empty
    * in-memory catalog, and a `CREATE VIEW bv.x ...` script would hit
    * SCHEMA_NOT_FOUND unless it happened to run after initVault. */
  def applyScripts(relType: String): Seq[String] = {
    ensureLayerDatabases()
    ScriptViews.apply(spark, meta, relType,
      scriptsPath.getOrElse(throw new graft.etl.DvException(
        graft.etl.DvError.Configuration("no scripts path configured"))))
  }

  /** Run a complete load flow (reference execute_flow). */
  def executeFlow(
      sourceTable: String,
      recordSource: String,
      filePath: Option[String] = None,
      loadDts: Option[Timestamp] = None,
      forceLoad: Boolean = false
  ): FlowResult = {
    val r = flow.executeFlow(sourceTable, recordSource, filePath, loadDts, forceLoad)
    // Current views pin their file listing at registration — refresh the
    // ones this flow touched so `<sat>_cv` reflects the appends (reference
    // views are live). A FAILED flow refreshes ALL of them: its earlier
    // appends durably landed even though `loaded` is empty, and a cv
    // pinned to the pre-flow listing would disagree with the table itself
    // until some later flow happened to touch it (rare path — the
    // per-satellite re-listing cost is fine there).
    if (!r.skipped)
      refreshCurrentViews(
        if (r.status == "failure") None
        else Some(r.loaded.keySet.filter(t => t.startsWith("hsat_") || t.startsWith("lsat_"))))
    r
  }

  /** Load just the hubs fed by one staging table — reference
    * load_related_hubs (mallarddv.py:189-215). Pair with [[nextRunId]] for
    * a hand-rolled partial flow; `executeFlow` remains the orchestrated
    * path. Returns target table → rows appended. */
  def loadRelatedHubs(stgTable: String, runId: Long, recordSource: String,
      loadDts: Option[Timestamp] = None): Map[String, Long] = {
    echo(s"loadRelatedHubs($stgTable, run=$runId)", hashView(stgTable))
    flow.loadRelatedHubs(stgTable, runId, recordSource, loadDts)
  }

  /** Reference load_related_links (mallarddv.py:215-240). */
  def loadRelatedLinks(stgTable: String, runId: Long, recordSource: String,
      loadDts: Option[Timestamp] = None): Map[String, Long] = {
    echo(s"loadRelatedLinks($stgTable, run=$runId)", hashView(stgTable))
    flow.loadRelatedLinks(stgTable, runId, recordSource, loadDts)
  }

  /** Reference load_related_sats (mallarddv.py:240-262); refreshes the
    * touched `<sat>_cv` views (registered plans pin their file listing). */
  def loadRelatedSats(stgTable: String, runId: Long, recordSource: String,
      loadDts: Option[Timestamp] = None): Map[String, Long] = {
    echo(s"loadRelatedSats($stgTable, run=$runId)", hashView(stgTable))
    val r = flow.loadRelatedSats(stgTable, runId, recordSource, loadDts)
    refreshCurrentViews(Some(r.keySet.filter(t => t.startsWith("hsat_") || t.startsWith("lsat_"))))
    r
  }

  /** Next run id from the ledger (reference GET_RUN_ID) — for driving the
    * per-entity loads above outside executeFlow. */
  def nextRunId(): Long = flow.nextRunId()

  /** The run ledger (reference metadata.runinfo). */
  def runinfo: DataFrame = flow.runinfo
}

object Graft {
  /** Catalog name of the hidden imposed-schema backing table behind the
    * `dv.<name>` view ([[Graft.registerDvTable]]). */
  private[graft] def dvBackingName(name: String): String = s"__${name}__data"

  /** Escape a string for embedding in a single-quoted SQL literal — a lake
    * root containing a quote must not break catalog DDL (ADVICE r20). */
  private[graft] def sqlLit(s: String): String = s.replace("'", "''")

  /** Reload metadata from CSV into a new facade over the SAME lake
    * (reference overwrite_metadata_from_files — metadata evolves without
    * touching vault data). */
  def reloadMetadata(g: Graft, tablesCsv: String, transitionsCsv: String): Graft =
    new Graft(g.spark, g.lakeRoot, MetaStore.fromCsv(g.spark, tablesCsv, transitionsCsv),
      g.scriptsPath, g.algo, g.buckets)

  /** Construct from the reference's CSV metadata layout. */
  def fromCsv(
      spark: SparkSession,
      lakeRoot: String,
      tablesCsv: String,
      transitionsCsv: String,
      scriptsPath: Option[String] = None,
      algo: HashGen.Algo = HashGen.Sha1
  ): Graft =
    new Graft(spark, lakeRoot, MetaStore.fromCsv(spark, tablesCsv, transitionsCsv), scriptsPath, algo)
}
