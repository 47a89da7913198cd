package graft

import java.sql.Timestamp

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.functions._

import graft.dv.HashGen
import graft.meta.{MetaStore, TableColumn, Transition}

class GraftFacadeSpec extends SparkSpec {
  import spark.implicits._

  private def meta = MetaStore(
    tables = Seq(
      TableColumn("customer", "stg", "c_custkey", "BIGINT", 1, "c"),
      TableColumn("customer", "stg", "c_name", "VARCHAR", 2, "c"),
      TableColumn("customer", "hub", "c_custkey", "BIGINT", 1, "bk"),
      TableColumn("customer", "hsat", "customer", "", 0, "hk"),
      TableColumn("customer", "hsat", "c_name", "VARCHAR", 1, "f"),
      TableColumn("big_customers", "bv_vw", "", "", 1, "vwdef")
    ),
    transitions = Seq(
      Transition("customer", "c_custkey", "hub_customer", "c_custkey_bk", "customer", 1, raw = false, None, "bk"),
      Transition("customer", "c_name", "hsat_customer", "c_name", "customer_details", 1, raw = false, None, "f"),
      Transition("customer", "customer_hk", "hsat_customer", "customer", "customer_details", 0, raw = false, None, "sat_delta")
    ))

  test("facade: initVault -> executeFlow -> hashView -> currentView -> sql") {
    val root = tmpDir("graft")
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(root, "scripts", "bv"))
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(root, "scripts", "bv", "big_customers.sql"),
      "SELECT customer_hk, c_name FROM hsat_customer_cv WHERE c_name LIKE 'a%'")

    val g = new Graft(spark, s"$root/lake", meta, Some(s"$root/scripts"), HashGen.Md5)

    val created = g.initVault()
    assert(created.contains("stg.customer"))
    assert(created.contains("dv.hub_customer"))
    assert(created.contains("dv.hsat_customer"))
    assert(g.table("dv", "hub_customer").isEmpty) // empty but typed

    val f = s"$root/c.csv"
    java.nio.file.Files.writeString(java.nio.file.Paths.get(f),
      "c_custkey,c_name\n1,ann\n2,bob\n3,alice")
    val r = g.executeFlow("customer", "facade", Some(f), Some(Timestamp.valueOf("2026-01-01 00:00:00")))
    assert(r.status == "success")
    assert(g.table("dv", "hub_customer").count() == 3)

    val hv = g.hashView("customer")
    assert(hv.columns.contains("customer_hk") && hv.columns.contains("customer_details_hashdiff"))

    val cv = g.currentView("hsat_customer")
    assert(cv.count() == 3)

    // script view over the current view via plain SQL
    g.applyScripts("bv_vw")
    assert(g.sql("SELECT * FROM big_customers").as[(String, String)].collect()
      .map(_._2).sorted.toSeq == Seq("alice", "ann"))

    assert(g.runinfo.filter(col("status") === "success").count() == 1)

    // parameterized sql — positional `?` (reference mallarddv.py:87-98
    // sql(sql_str, sql_args)) and named `:name` binding
    assert(g.sql("SELECT c_name FROM big_customers WHERE c_name = ?", Seq("alice"))
      .as[String].collect().toSeq == Seq("alice"))
    assert(g.sql("SELECT count(*) FROM big_customers WHERE c_name LIKE :p", Map("p" -> "a%"))
      .as[Long].head() == 2L)
  }

  test("reads of a compacted table log no 'All paths were ignored' warning") {
    // Spark's DataSource warns when every path it is given is hidden (a
    // `_`/`.` prefix); generation dirs are read directly, so their names
    // must not be hidden ones
    import org.apache.logging.log4j.{Level, LogManager}
    import org.apache.logging.log4j.core.{LogEvent, Logger => CoreLogger}
    import org.apache.logging.log4j.core.appender.AbstractAppender
    val root = tmpDir("graftwarn")
    val g = new Graft(spark, s"$root/lake", meta, None, HashGen.Md5)
    g.initVault()
    val f = s"$root/c.csv"
    java.nio.file.Files.writeString(java.nio.file.Paths.get(f), "c_custkey,c_name\n1,ann\n2,bob")
    assert(g.executeFlow("customer", "warn", Some(f), Some(Timestamp.valueOf("2026-01-01 00:00:00")))
      .status == "success")
    g.compact("dv", "hub_customer")
    Seq(1L).toDF("x").write.parquet(s"$root/_hidden")

    val seen = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val appender = new AbstractAppender("graftDataSourceWarn", null, null, true,
        org.apache.logging.log4j.core.config.Property.EMPTY_ARRAY) {
      override def append(e: LogEvent): Unit = seen.add(e.getMessage.getFormattedMessage)
    }
    val logger = LogManager.getLogger("org.apache.spark.sql.execution.datasources.DataSource")
      .asInstanceOf[CoreLogger]
    val level = logger.getLevel
    appender.start()
    logger.addAppender(appender)
    logger.setLevel(Level.WARN)
    def ignored(): Int = seen.asScala.count(_.contains("All paths were ignored"))
    try {
      // control: the appender does see the warning for a hidden directory
      assert(spark.read.parquet(s"$root/_hidden").count() == 1L)
      assert(ignored() >= 1, s"appender saw no warning for a hidden path: ${seen.asScala.mkString("; ")}")
      seen.clear()
      val hub = g.lake.read("dv", "hub_customer")
      assert(hub.count() == 2L)
      assert(g.lake.readOr("dv", "hub_customer", hub.drop("hk_bucket").schema).count() == 2L)
      assert(g.sql("SELECT * FROM dv.hub_customer").count() == 2L)
      assert(ignored() == 0, seen.asScala.mkString("\n"))
    } finally {
      logger.removeAppender(appender)
      logger.setLevel(level)
      appender.stop()
    }
  }

  test("a bucketed append re-lists no committed generation, and catalog names still see every write") {
    // A write drops the lake's cached resolution and the catalog's cached
    // relations instead of re-listing them; the next reader lists afresh.
    spark.sparkContext.hadoopConfiguration.set("fs.faulty.impl", classOf[FaultyFs].getName)
    val root = tmpDir("graftlist")
    val g = new Graft(spark, s"faulty://lake$root/lake", meta, None, HashGen.Md5)
    g.initVault()
    def load(file: String, rows: String*): Unit = {
      val f = s"$root/$file.csv"
      java.nio.file.Files.writeString(java.nio.file.Paths.get(f), ("c_custkey,c_name" +: rows).mkString("\n"))
      val r = g.executeFlow("customer", "list", Some(f), Some(Timestamp.valueOf("2026-01-01 00:00:00")))
      assert(r.status == "success", r.errors.mkString("; "))
    }
    load("c1", "1,ann", "2,bob")
    // both catalog tables now hold a cached relation
    assert(g.sql("SELECT * FROM dv.hub_customer").count() == 2L)
    assert(g.sql("SELECT * FROM stg.customer").count() == 2L)

    val generation = s"$root/lake/dv/hub_customer/gen-[0-9]+(/hk_bucket=[^/]+)?".r
    assert(g.lake.exists("dv", "hub_customer")) // the append's own resolution, cached
    FaultyFs.listed.clear()
    g.lake.appendBucketed(
      Seq(("hk9", Timestamp.valueOf("2026-01-02 00:00:00"), "lit", 99L, 9L))
        .toDF("customer_hk", "load_dts", "record_source", "run_id", "c_custkey_bk"),
      "dv", "hub_customer", "customer_hk")
    val relisted = FaultyFs.listed.asScala.collect { case (p, n) if generation.matches(p) => p -> n.get }
    assert(relisted.isEmpty, s"the append re-listed committed generation dirs: $relisted")
    // a plain append commits no generation, so the write hook skips the
    // dv.<name> registration check and nothing lists the table root
    val rootListed = Option(FaultyFs.listed.get(s"$root/lake/dv/hub_customer")).fold(0)(_.get)
    assert(rootListed == 0, s"the append listed the table root $rootListed times")
    // nor does the next lake read: the append kept the generation and its
    // layout record, so the table's cached resolution still holds
    g.lake.read("dv", "hub_customer")
    val readListed = Option(FaultyFs.listed.get(s"$root/lake/dv/hub_customer")).fold(0)(_.get)
    assert(readListed == 0, s"the read after the append listed the table root $readListed times")
    assert(g.sql("SELECT * FROM dv.hub_customer").count() == 3L)

    load("c2", "7,gus")
    assert(g.sql("SELECT c_custkey FROM stg.customer").as[Long].collect().toSeq == Seq(7L))
  }

  test("facade: compact rewrites a live satellite sorted and re-registers its current view") {
    val root = tmpDir("graftcompact")
    val g = new Graft(spark, s"$root/lake", meta, None, HashGen.Md5)
    g.initVault()
    // two flow loads → two load_dts versions for a changed key, many part files
    def load(file: String, rows: String, dts: String): Unit = {
      java.nio.file.Files.writeString(java.nio.file.Paths.get(file), rows)
      val r = g.executeFlow("customer", "compact-test", Some(file), Some(Timestamp.valueOf(dts)))
      assert(r.status == "success", r.errors.mkString(";"))
    }
    load(s"$root/c1.csv", "c_custkey,c_name\n1,ann\n2,bob\n3,alice", "2026-01-01 00:00:00")
    load(s"$root/c2.csv", "c_custkey,c_name\n1,ann\n2,bobby\n3,alice", "2026-01-02 00:00:00")
    assert(g.table("dv", "hsat_customer").count() == 4)
    val cvBefore = g.sql("SELECT c_name FROM hsat_customer_cv ORDER BY c_name")
      .as[String].collect().toSeq
    assert(cvBefore == Seq("alice", "ann", "bobby"))

    val (before, after) = g.compact("dv", "hsat_customer")
    assert(after <= before, s"$before -> $after")
    // the satellite landed in a committed generation, sorted (hk, load_dts)
    // within each file — read one file back and pin the clustering the
    // as-of pruning relies on
    val dataDir = g.lake.dataPath("dv", "hsat_customer")
    assert(dataDir.endsWith(s"${graft.core.Lake.GenPrefix}2"), dataDir)
    val oneFile = g.table("dv", "hsat_customer") // routed through the generation
    assert(oneFile.count() == 4)
    import org.apache.spark.sql.expressions.Window
    val files = spark.read.parquet(dataDir)
      .withColumn("f", input_file_name())
      .withColumn("pos", monotonically_increasing_id())
      .withColumn("rn", row_number().over(
        Window.partitionBy(col("f")).orderBy(col("pos"))))
      .withColumn("sorted_rn", row_number().over(
        Window.partitionBy(col("f")).orderBy(col("customer_hk"), col("load_dts"))))
    assert(files.filter(col("rn") =!= col("sorted_rn")).count() == 0,
      "rows within each compacted file must be (hk, load_dts)-sorted")
    // the registered current view survived the rewrite (no stale file chase)
    val cvAfter = g.sql("SELECT c_name FROM hsat_customer_cv ORDER BY c_name")
      .as[String].collect().toSeq
    assert(cvAfter == cvBefore)
    // and a post-compact incremental load still works against the generation
    load(s"$root/c3.csv", "c_custkey,c_name\n4,dan", "2026-01-03 00:00:00")
    assert(g.table("dv", "hsat_customer").count() == 5)
    assert(g.sql("SELECT c_name FROM hsat_customer_cv ORDER BY c_name")
      .as[String].collect().toSeq == Seq("alice", "ann", "bobby", "dan"))
  }

  test("facade: per-entity creates evolve a live vault without initVault") {
    val root = tmpDir("graft")
    val g = new Graft(spark, s"$root/lake", meta, None, HashGen.Md5)
    assert(g.initVault().nonEmpty)
    val f = s"$root/c.csv"
    java.nio.file.Files.writeString(java.nio.file.Paths.get(f),
      "c_custkey,c_name\n1,ann\n2,bob")
    assert(g.executeFlow("customer", "t", Some(f),
      Some(Timestamp.valueOf("2026-01-01 00:00:00"))).status == "success")

    // Schema evolution: metadata grows an `order` entity; only the new hub
    // is created — the live customer vault is untouched (the reference's
    // create_hub_from_metadata(base_name=...) motion, mallarddv.py:264-278).
    val evolved = MetaStore(
      tables = meta.tables ++ Seq(
        TableColumn("order", "stg", "o_orderkey", "BIGINT", 1, "c"),
        TableColumn("order", "hub", "o_orderkey", "BIGINT", 1, "bk")),
      transitions = meta.transitions :+
        Transition("order", "o_orderkey", "hub_order", "o_orderkey_bk", "order", 1, raw = false, None, "bk"))
    val g2 = new Graft(spark, s"$root/lake", evolved, None, HashGen.Md5)
    assert(g2.createHub(Some("order")) == Seq("dv.hub_order"))
    assert(g2.createHub(Some("order")).isEmpty) // idempotent
    assert(g2.createStagingTable(Some("order")) == Seq("stg.order"))
    // existing entities are left alone by the filtered create
    assert(g2.createHub(Some("customer")).isEmpty)
    assert(g2.table("dv", "hub_customer").count() == 2) // untouched

    // Per-entity loads drive a hand-rolled partial flow on the new entity.
    java.nio.file.Files.writeString(java.nio.file.Paths.get(s"$root/o.csv"),
      "o_orderkey\n10\n11\n12")
    g2.lake.overwrite(
      spark.read.option("header", "true").schema("o_orderkey BIGINT").csv(s"$root/o.csv"),
      "stg", "order")
    val runId = g2.nextRunId()
    assert(g2.loadRelatedHubs("order", runId, "t",
      Some(Timestamp.valueOf("2026-01-02 00:00:00"))) == Map("hub_order" -> 3L))
    assert(g2.table("dv", "hub_order").count() == 3)
    // re-register current views over the evolved vault: no-op list is fine
    assert(g2.createCurrentSat().forall(_.endsWith("_cv")))
  }

  test("facade: evolved satellite metadata null-backfills the new column over existing parquet") {
    val root = tmpDir("graft")
    val g = new Graft(spark, s"$root/lake", meta, None, HashGen.Md5)
    g.initVault()
    java.nio.file.Files.writeString(java.nio.file.Paths.get(s"$root/c1.csv"),
      "c_custkey,c_name\n1,ann\n2,bob")
    assert(g.executeFlow("customer", "t", Some(s"$root/c1.csv"),
      Some(Timestamp.valueOf("2026-01-01 00:00:00"))).status == "success")

    // Metadata gains a payload column (c_segment) on the live satellite.
    val evolved = MetaStore(
      tables = meta.tables ++ Seq(
        TableColumn("customer", "stg", "c_segment", "VARCHAR", 3, "c"),
        TableColumn("customer", "hsat", "c_segment", "VARCHAR", 2, "f")),
      transitions = meta.transitions :+
        Transition("customer", "c_segment", "hsat_customer", "c_segment", "customer_details", 2, raw = false, None, "f"))
    val g2 = new Graft(spark, s"$root/lake", evolved, None, HashGen.Md5)
    java.nio.file.Files.writeString(java.nio.file.Paths.get(s"$root/c2.csv"),
      "c_custkey,c_name,c_segment\n1,ann,GOLD\n2,bob,SILVER")
    // The evolved load reads the existing sat (old part files LACK
    // c_segment) without dropping the new column: Lake.readOr imposes the
    // expected schema and parquet null-backfills per file. The hashdiff now
    // covers c_segment, so both keys re-version — correct DV semantics for
    // a payload-shape change.
    val r2 = g2.executeFlow("customer", "t", Some(s"$root/c2.csv"),
      Some(Timestamp.valueOf("2026-02-01 00:00:00")))
    assert(r2.status == "success", r2.errors.mkString("; "))
    assert(r2.loaded("hsat_customer") == 2L)

    val sat = g2.table("dv", "hsat_customer")
    assert(sat.columns.contains("c_segment"))
    assert(sat.count() == 4)
    // old history: c_segment survives as NULL; new versions carry values
    assert(sat.filter(col("load_dts") === "2026-01-01 00:00:00")
      .filter(col("c_segment").isNull).count() == 2)
    assert(sat.filter(col("load_dts") === "2026-02-01 00:00:00")
      .select("c_segment").as[String].collect().sorted.toSeq == Seq("GOLD", "SILVER"))
    // the current view reflects the evolved payload
    val cv = g2.currentView("hsat_customer")
    assert(cv.count() == 2)
    assert(cv.select("c_segment").as[String].collect().sorted.toSeq == Seq("GOLD", "SILVER"))
  }

  test("facade: applyScripts without a scripts path raises a typed configuration error") {
    val g = new Graft(spark, s"${tmpDir("graft")}/lake", meta, None, HashGen.Md5)
    val e = intercept[graft.etl.DvException](g.applyScripts("bv_vw"))
    assert(e.error.isInstanceOf[graft.etl.DvError.Configuration])
  }

  test("facade: verbose mode echoes load plans") {
    val root = tmpDir("graft")
    val g = new Graft(spark, s"$root/lake", meta, None, HashGen.Md5)
    g.initVault()
    java.nio.file.Files.writeString(java.nio.file.Paths.get(s"$root/c.csv"),
      "c_custkey,c_name\n1,ann")
    g.executeFlow("customer", "t", Some(s"$root/c.csv"),
      Some(Timestamp.valueOf("2026-01-01 00:00:00")))
    g.verbose = true
    val out = new java.io.ByteArrayOutputStream()
    Console.withOut(new java.io.PrintStream(out)) {
      g.loadRelatedHubs("customer", g.nextRunId(), "t",
        Some(Timestamp.valueOf("2026-01-02 00:00:00")))
    }
    g.verbose = false
    val echoed = out.toString
    assert(echoed.contains("loadRelatedHubs") && echoed.contains("== Physical Plan =="),
      s"expected plan echo, got: ${echoed.take(200)}")
  }
}
