package graft

import scala.reflect.ClassTag

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.plans.{LeftAnti, LeftSemi}
import org.apache.spark.sql.execution.{ExpandExec, SortExec, SparkPlan, TakeOrderedAndProjectExec}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.execution.aggregate.{HashAggregateExec, ObjectHashAggregateExec, SortAggregateExec}
import org.apache.spark.sql.execution.exchange.{Exchange, ShuffleExchangeLike}
import org.apache.spark.sql.execution.joins.{BaseJoinExec, BroadcastHashJoinExec, BroadcastNestedLoopJoinExec, CartesianProductExec, ShuffledHashJoinExec, SortMergeJoinExec}
import org.apache.spark.sql.execution.window.WindowExec

import graft.queries.{Analytics, Ann, DvQueries, TextOps}

/** Plan-quality guards: the properties that make these operators survive a
  * 100x scale-up are asserted here so a refactor can't silently lose them
  * (pushdown reaching the scan, column pruning, explicit broadcasts).
  *
  * Guards match on physical plan NODE CLASSES, not explain-string
  * substrings, wherever a class exists: a Spark upgrade that renamed an
  * operator's pretty-print would make a negative substring check (e.g.
  * `!plan.contains("Window")`) pass vacuously — green-washing the exact
  * regression the guard exists to catch. Substrings remain only for
  * expression-level facts (pushed filters, ReadSchema, function names)
  * that have no plan-node identity.
  */
class PlanSpec extends SparkSpec {

  private val dir = "/root/testdata/sf0.001"
  private def plan(df: DataFrame): String = df.queryExecution.executedPlan.toString
  // toString elides long PushedFilters lists; formatted explain is complete.
  private def formatted(df: DataFrame): String =
    df.queryExecution.explainString(org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))

  /** Every physical node, recursing through AQE wrappers and subquery plans. */
  private def walk(p: SparkPlan): Seq[SparkPlan] =
    p +: (p match {
      case a: AdaptiveSparkPlanExec => walk(a.executedPlan)
      case _ => (p.children ++ p.subqueries).flatMap(walk)
    })
  private def nodes(df: DataFrame): Seq[SparkPlan] = walk(df.queryExecution.executedPlan)
  private def count[T <: SparkPlan](df: DataFrame)(implicit ct: ClassTag[T]): Int =
    nodes(df).count(ct.runtimeClass.isInstance)
  private def joinTypes(df: DataFrame): Seq[org.apache.spark.sql.catalyst.plans.JoinType] =
    nodes(df).collect { case j: BaseJoinExec => j.joinType }

  test("q6: predicates pushed to the parquet scan, columns pruned") {
    val p = formatted(Analytics.q6Revenue(spark, dir))
    assert(p.contains("PushedFilters: [IsNotNull"), p)
    assert(p.contains("GreaterThanOrEqual(l_discount,0.03)"), p)
    assert(p.contains("LessThan(l_quantity,24.0)"), p)
    // only the 4 referenced columns reach the scan
    assert(p.contains("ReadSchema: struct<l_quantity:double,l_extendedprice:double,l_discount:double,l_shipdate:timestamp"), p)
  }

  test("q5: bounded dims (nation, region) broadcast explicitly") {
    // customer/supplier are scale-factor-proportional and left to AQE —
    // only the bounded dims carry a static broadcast hint.
    val q = Analytics.q5Volume(spark, dir)
    assert(count[BroadcastHashJoinExec](q) >= 2, plan(q))
  }

  test("hub load: anti-join on the hash key") {
    val q = DvQueries.hubLoad(spark, dir)
    assert(joinTypes(q).contains(LeftAnti), plan(q))
  }

  test("knn_brute: query side broadcast, corpus side streams") {
    val q = Ann.knnBrute(spark, dir)
    assert(count[BroadcastNestedLoopJoinExec](q) >= 1, plan(q))
    assert(plan(q).contains("graft_cosine"), plan(q))
  }

  test("corpus_filter: ONE documents scan (fused projection + window)") {
    // The composition must not degrade back into a join of three subqueries,
    // each rescanning documents — at 100 TB the scan is the cost.
    val p = plan(TextOps.corpusFilter(spark, dir))
    assert("documents\\.parquet".r.findAllIn(p).size == 1, p)
  }

  test("q17: ONE lineitem scan (window, not self-agg join)") {
    val p = plan(Analytics.q17SmallQty(spark, dir))
    assert("lineitem\\.parquet".r.findAllIn(p).size == 1, p)
  }

  test("q1: partial aggregation before the exchange (map-side combine)") {
    val q = Analytics.q1Pricing(spark, dir)
    // a partial HashAggregate must sit BELOW the shuffle exchange
    val ex = nodes(q).collectFirst { case e: ShuffleExchangeLike => e }
    assert(ex.isDefined, plan(q))
    assert(walk(ex.get.children.head).exists(_.isInstanceOf[HashAggregateExec]), plan(q))
  }

  test("q4: EXISTS planned as a semi join with the discount filter pushed") {
    val q = Analytics.q4PriorityExists(spark, dir)
    val p = formatted(q)
    assert(joinTypes(q).contains(LeftSemi), p)
    assert(p.contains("GreaterThan(l_discount,0.08)"), p)
    // the semi-join probe side reads only the join key
    assert(p.contains("ReadSchema: struct<l_orderkey:bigint,l_discount:double>"), p)
  }

  test("q19: disjunctive predicate still prunes scan columns; part joined equi") {
    val q = Analytics.q19Disjunct(spark, dir)
    val p = formatted(q)
    assert(
      count[BroadcastHashJoinExec](q) + count[ShuffledHashJoinExec](q) + count[SortMergeJoinExec](q) >= 1,
      plan(q))
    // OR-of-ANDs must not widen the lineitem scan beyond the 4 used columns
    assert(p.contains("ReadSchema: struct<l_partkey:bigint,l_quantity:double,l_extendedprice:double,l_discount:double>"), p)
    // per-branch part conjuncts reach the part scan as a pushed disjunction
    assert(p.contains("Or(And("), p)
  }

  test("q22: scalar average broadcast (no data-sized shuffle for the threshold)") {
    val q = Analytics.q22IdleRich(spark, dir)
    assert(count[BroadcastNestedLoopJoinExec](q) >= 1, plan(q))
    assert(joinTypes(q).contains(LeftAnti), plan(q))
  }

  test("q8: all five dim legs broadcast; one aggregation pass (no fact self-join)") {
    // part (type-filtered) and supplier carry static hints like the
    // nation/region legs (r11): without them the sf1 plan ran three
    // fact-sized shuffle joins unless AQE happened to convert them — the
    // one plan graded perf-weak in the r10 verdict. Five hinted broadcasts
    // leave lineitem⨝orders as the only fact exchange.
    val q = Analytics.q8MarketShare(spark, dir)
    assert(count[BroadcastHashJoinExec](q) >= 5, plan(q))
    assert("lineitem\\.parquet".r.findAllIn(plan(q)).size == 1, plan(q))
  }

  test("q15: scalar max joins back broadcast (no global window sort)") {
    val q = Analytics.q15TopSupplier(spark, dir)
    assert(count[BroadcastHashJoinExec](q) >= 1, plan(q))
    assert(count[WindowExec](q) == 0, plan(q))
  }

  test("sales_rollup: Expand feeds a partial aggregate (map-side combine kept)") {
    val q = Analytics.salesRollup(spark, dir)
    val ex = nodes(q).collectFirst { case e: ShuffleExchangeLike => e }
    assert(count[ExpandExec](q) >= 1, plan(q))
    assert(ex.isDefined && walk(ex.get.children.head).exists(_.isInstanceOf[HashAggregateExec]), plan(q))
  }

  test("events_quantiles: histogram + targets broadcast, no data-sized window") {
    val q = Analytics.eventsQuantiles(spark, dir)
    assert(count[BroadcastHashJoinExec](q) >= 2, plan(q))
    // The only sorts allowed are the KB-sized window inputs (histogram
    // prefix sum, target-bucket rows ~n/4096) — never a per-key sort of the
    // full input: every SortExec must feed a Window, and the full-input
    // path (scan → broadcast-join → partial agg) carries no Sort below its
    // aggregation exchange.
    val sorts = count[SortExec](q)
    assert(sorts == 0 || plan(q).contains("row_number"), plan(q))
  }

  test("text_repetition: exactly the three planned exchanges (spread + two aggs)") {
    val q = TextOps.textRepetition(spark, dir)
    assert(count[Exchange](q) == 3, plan(q))
  }

  test("corpus_sample: rate table broadcast back — the corpus never shuffles") {
    val q = TextOps.corpusSample(spark, dir)
    assert(count[BroadcastHashJoinExec](q) >= 1, plan(q))
    assert(count[SortMergeJoinExec](q) == 0, plan(q))
  }

  test("dedup_semantic: streaming argmax assignment — no crossJoin expansion in the plan") {
    // Cell assignment runs as a per-partition argmax over the broadcast
    // centroid array (Ann.topCentroids): the n×|cents| crossJoin-then-rank
    // expansion (10 GB of window-sort spill at sf10) must never come back.
    val q = graft.queries.Dedup.dedupSemantic(spark, dir)
    assert(count[BroadcastNestedLoopJoinExec](q) == 0, plan(q))
    assert(count[CartesianProductExec](q) == 0, plan(q))
    val p = plan(q)
    assert(p.contains("MapPartitions") || p.contains("SerializeFromObject"), p)
  }

  test("corpus_vocab: top-k plans as TakeOrderedAndProject (no global sort)") {
    val q = TextOps.corpusVocab(spark, dir)
    assert(count[TakeOrderedAndProjectExec](q) >= 1, plan(q))
  }

  test("events_funnel: the three-stage chain shares ONE user_id shuffle") {
    val q = Analytics.eventsFunnel(spark, dir)
    // stacked window minima + per-user collapse reuse the user_id
    // partitioning; only the final one-row summary adds an exchange.
    assert(count[WindowExec](q) >= 1, plan(q))
    assert("hashpartitioning\\(user_id".r.findAllIn(plan(q)).size <= 2, plan(q))
  }

  test("events_sessions: clusterBy feeds window AND final agg — exactly ONE exchange") {
    // The explicit user_id clustering must satisfy both the window's
    // required distribution and the downstream groupBy(user_id, session_id)
    // (partitioning on a subset of the grouping keys): a regression that
    // re-shuffles above the clusterBy would show a second exchange and
    // double-ship the event rows.
    val q = Analytics.eventsSessions(spark, dir)
    assert(count[Exchange](q) == 1, plan(q))
    assert(count[WindowExec](q) >= 1, plan(q))
  }

  test("orders_running_total: running frame, one customer shuffle") {
    val q = Analytics.ordersRunningTotal(spark, dir)
    assert(count[WindowExec](q) >= 1, plan(q))
    assert(count[Exchange](q) == 1, plan(q))
  }

  test("sales_rollup: Expand sits ABOVE the leaf aggregate (constant-size fan-out)") {
    val q = Analytics.salesRollup(spark, dir)
    // the scan feeds an ordinary aggregation and only |groups| rows are
    // expanded — so the leaf aggregate and its exchange sit BELOW Expand
    val expand = nodes(q).collectFirst { case e: ExpandExec => e }
    assert(expand.isDefined, plan(q))
    val below = walk(expand.get.children.head)
    assert(below.exists(_.isInstanceOf[HashAggregateExec]), plan(q))
    assert(below.exists(_.isInstanceOf[Exchange]), plan(q))
  }

  test("q9: part LIKE filter prunes the fact BEFORE the orders join; 2-col part probe") {
    val p = formatted(Analytics.q9Profit(spark, dir))
    // the part side reads only partkey+name (pruned), and the lineitem scan
    // reads only the 5 referenced columns
    assert(p.contains("ReadSchema: struct<p_partkey:bigint,p_name:string>"), p)
    assert(p.contains("ReadSchema: struct<l_orderkey:bigint,l_partkey:bigint,l_suppkey:bigint,l_extendedprice:double,l_discount:double>"), p)
  }

  test("q11: HAVING threshold windows over the per-supplier result (ONE fact scan)") {
    val q = Analytics.q11ValueShare(spark, dir)
    assert("lineitem\\.parquet".r.findAllIn(plan(q)).size == 1, plan(q))
    assert(count[WindowExec](q) >= 1, plan(q))
  }

  test("q16: broadcast anti join; ONE dedup exchange (no redundant pair-distinct)") {
    val q = Analytics.q16SupplierCnt(spark, dir)
    assert(joinTypes(q).contains(LeftAnti), plan(q))
    assert(count[BroadcastHashJoinExec](q) >= 1, plan(q))
    // exactly two shuffles: the (brand,size,suppkey) dedup and the final
    // keyed count — the old pair-distinct third exchange must not return.
    assert(count[ShuffleExchangeLike](q) == 2, plan(q))
    // the fact scan reads only the two key columns from lineitem
    val f = formatted(Analytics.q16SupplierCnt(spark, dir))
    assert(f.contains("ReadSchema: struct<l_partkey:bigint,l_suppkey:bigint>"), f)
  }

  test("events_interval_join: bucketed band join — equi join, NO cartesian/nested-loop") {
    val q = Analytics.eventsIntervalJoin(spark, dir)
    assert(count[CartesianProductExec](q) == 0, plan(q))
    assert(count[BroadcastNestedLoopJoinExec](q) == 0, plan(q))
    // the band meets on the minute-bucket equi key
    assert(plan(q).contains("bucket"), plan(q))
  }

  test("q13: orders pre-aggregate sits BELOW the left join (customer-sized probe)") {
    import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, Join}
    val lp = Analytics.q13Custdist(spark, dir).queryExecution.optimizedPlan
    val join = lp.collectFirst { case j: Join => j }.get
    assert(join.right.collectFirst { case a: Aggregate => a }.isDefined,
      s"orders side must be pre-aggregated by o_custkey before the join:\n$lp")
  }

  test("q20: two-level aggregate shares ONE lineitem scan; dominant set semi-joins") {
    val q = Analytics.q20ShareSemi(spark, dir)
    assert("lineitem\\.parquet".r.findAllIn(plan(q)).size == 1, plan(q))
    assert(joinTypes(q).contains(LeftSemi), plan(q))
  }

  test("q21: sole-supplier via one groupBy pass — NO lineitem self-join") {
    val q = Analytics.q21SoleSupplier(spark, dir)
    assert("lineitem\\.parquet".r.findAllIn(plan(q)).size == 1, plan(q))
    // top-k with limit plans as TakeOrdered, not a global sort
    assert(count[TakeOrderedAndProjectExec](q) >= 1, plan(q))
  }

  test("events_retention: first-seen via window — one (user,type) shuffle, no self-join") {
    val q = Analytics.eventsRetention(spark, dir)
    assert("events\\.parquet".r.findAllIn(plan(q)).size == 1, plan(q))
    assert(count[WindowExec](q) >= 1, plan(q))
  }

  test("events_json: native JSON parse feeds a partial aggregate (map-side combine)") {
    val p = formatted(Analytics.eventsJson(spark, dir))
    // codegen'd native expression, not a UDF
    assert(p.contains("get_json_object"), p)
    // partial agg sits below the exchange — the parse + combine happen
    // scan-side, only |event_type| groups shuffle. (Formatted mode numbers
    // operators bottom-up, so the partial agg prints BEFORE the exchange.)
    assert(p.indexOf("partial_sum") < p.indexOf("Arguments: hashpartitioning"), p)
  }

  test("text_blocklist: scan-bound, zero exchanges") {
    val q = TextOps.textBlocklist(spark, dir)
    assert(count[Exchange](q) == 0, plan(q))
  }

  test("events_pivot: explicit value list — ONE scan, no distinct-discovery job") {
    val q = Analytics.eventsPivot(spark, dir)
    assert("events\\.parquet".r.findAllIn(plan(q)).size == 1, plan(q))
    // conditional-agg matrix keeps map-side combine
    val ex = nodes(q).collectFirst { case e: ShuffleExchangeLike => e }
    assert(ex.isDefined && walk(ex.get.children.head).exists(_.isInstanceOf[HashAggregateExec]), plan(q))
  }

  test("events_resample: single dataflow — ONE fact scan, no grid self-join") {
    val q = Analytics.eventsResample(spark, dir)
    assert("events\\.parquet".r.findAllIn(plan(q)).size == 1, plan(q))
    assert(count[BaseJoinExec](q) == 0 && count[CartesianProductExec](q) == 0, plan(q))
  }

  test("events_resample: complete grid, gaps zero-filled (sf0.001 has real gaps)") {
    import org.apache.spark.sql.functions.{col, sum}
    val r = Analytics.eventsResample(spark, dir).cache()
    try {
      val hours = r.select("hour").collect().map(_.getTimestamp(0).getTime).sorted
      // contiguous hourly grid from min to max
      assert(hours.zip(hours.tail).forall { case (a, b) => b - a == 3600000L }, "grid has holes")
      val zeros = r.filter(col("n_events") === 0).count()
      val nonzero = r.filter(col("n_events") > 0)
        .agg(sum("n_events")).head().getLong(0)
      val total = spark.read.parquet(s"$dir/events.parquet").count()
      assert(nonzero == total, s"count conservation: $nonzero != $total")
      assert(zeros > 0, "sf0.001 should have empty hours — zero-fill path unexercised")
    } finally { r.unpersist(); () }
  }

  test("clusterBy: waves follow the size estimate; past the per-task ceiling the wave cap yields") {
    import graft.core.{Confs, Tables}
    val cores = spark.sparkContext.defaultParallelism
    // tiny input (sf0.001 lineitem, ~KB estimate) → one-wave floor: 4 waves
    // of near-empty tasks is pure scheduling cost at this end
    val tiny = Tables.clusterBy(Tables.load(spark, dir, "lineitem"), "l_orderkey")
    assert(tiny.rdd.getNumPartitions == cores, s"tiny input should floor at $cores")
    // medium estimated input (range stats = 8 bytes × n, plan-only —
    // nothing executes): 32 MB est sits under the 4 MB/task memory ceiling
    // × 16 partitions, so the ClusterWaves cap binds — the straggler end
    val medium = Tables.clusterBy(spark.range(1L << 22).toDF("k"), "k")
    assert(medium.rdd.getNumPartitions == Tables.ClusterWaves * cores,
      s"medium input should cap at ${Tables.ClusterWaves} waves")
    // huge estimated input (8 GB): the wave cap must YIELD to the per-task
    // memory ceiling (r18 sf30 finding — a wave-sized partition's hash map
    // grows with data while per-core memory doesn't): est / maxTaskBytes
    // partitions, not 4 waves
    val huge = Tables.clusterBy(spark.range(1L << 30).toDF("k"), "k")
    val expected = ((8L << 30) / Confs.clusterMaxTaskBytes(spark.conf)).toInt
    assert(huge.rdd.getNumPartitions == expected,
      s"huge input should grow to the memory ceiling ($expected), got ${huge.rdd.getNumPartitions}")
    // deployments with more memory per core raise the ceiling — the wave
    // cap binds again
    try {
      spark.conf.set(Confs.ClusterMaxTaskBytesKey, (1L << 30).toString)
      val raised = Tables.clusterBy(spark.range(1L << 30).toDF("k"), "k")
      assert(raised.rdd.getNumPartitions == Tables.ClusterWaves * cores,
        s"raised ceiling should restore the wave cap")
    } finally spark.conf.unset(Confs.ClusterMaxTaskBytesKey)
    // SENTINEL stats (a LogicalRDD — the streaming micro-batch shape) must
    // keep the wave cap: the ceiling reads KNOWN leaf bytes only, or the
    // 8 EB sentinel estimate would blow the exchange to the 64k sanity cap
    // (the first cut of r18 did exactly that — a streaming satellite
    // test's exchange hit 14k+ tasks)
    val sentinel = spark.createDataFrame(
      spark.sparkContext.parallelize(Seq(org.apache.spark.sql.Row(1L)), 2),
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("k", org.apache.spark.sql.types.LongType))))
    assert(graft.core.Tables.estBytesKnown(sentinel).isEmpty, "LogicalRDD must read as sentinel")
    val sentClustered = Tables.clusterBy(sentinel, "k")
    assert(sentClustered.rdd.getNumPartitions <= Tables.ClusterWaves * cores,
      s"sentinel stats must keep the wave cap, got ${sentClustered.rdd.getNumPartitions}")
  }

  test("dv_pit_table: ONE aggregation exchange — satellite input not pre-clustered") {
    // pitTable unions the satellites with the key set before its single
    // per-key aggregation; a union destroys co-partitioning, so feeding it
    // a clusterBy'd satellite ships the whole sat through an exchange that
    // buys nothing (1.7 GB at sf10). The only exchange must be the
    // aggregation's own, with the map-side partial collapsing each
    // partition to <=1 row per (key, sat) before the wire.
    val q = DvQueries.pitTableQ(spark, dir)
    assert(count[Exchange](q) == 1, plan(q))
    val ex = nodes(q).collectFirst { case e: ShuffleExchangeLike => e }
    assert(ex.isDefined && walk(ex.get.children.head).exists(_.isInstanceOf[HashAggregateExec]), plan(q))
  }

  test("dv_sat_delta: two clusterBy exchanges, co-partitioned shuffle-hash join — no re-exchange") {
    // satNewRows' two branches (graft_latest probe, group-keys-only staged
    // distinct) each pay exactly ONE key shuffle; the join must consume
    // them co-partitioned (shuffle_hash) without a third exchange above
    // either branch — the wire cost is the two narrow inputs, once each.
    val q = DvQueries.satDelta(spark, dir)
    assert(count[ShuffleExchangeLike](q) == 2, plan(q))
    assert(count[ShuffledHashJoinExec](q) >= 1, plan(q))
    assert(count[SortMergeJoinExec](q) == 0, plan(q))
    assert(count[WindowExec](q) == 0, plan(q))
  }

  test("dv_sat_current: latest-row via hash aggregate — no window, one exchange") {
    // SURVEY §4 promise: current-view latest-row is a keyed aggregation,
    // never a window over the full history — the window shape shuffles
    // every version row and ranks per key, which at the sf10 stress scale
    // was the difference between a bounded agg and 7.9 GB of spill.
    val q = DvQueries.satCurrent(spark, dir)
    assert(count[WindowExec](q) == 0, plan(q))
    assert(!plan(q).contains("max_by"), plan(q))
    // The unconditional key clustering (Tables.clusterBy) IS the
    // aggregation's distribution, so the whole latest-row runs off exactly
    // ONE exchange — a groupBy that re-shuffled after it would show two.
    assert(count[Exchange](q) == 1, plan(q))
    // This caller PAIRS clusterBy with the typed graft_latest hash
    // aggregate — the r21-measured best on the shallow-history profile
    // (17.5 vs 20.9 s at sf10; the partial shape's struct-serialized
    // shuffle was 3.1 GB vs 1.7 GB raw — bench/r21_latest_sf10.log).
    assert(plan(q).contains("graft_latest"), plan(q))
    assert(count[ObjectHashAggregateExec](q) >= 1, plan(q))
    assert(count[SortAggregateExec](q) == 0, plan(q))
  }

  test("latestShape=partial swaps dv_sat_current to the partial-collapse plan, same rows") {
    // The conf escape hatch (deep/wide/hostile-history deployments —
    // Confs.latestShape doc) must drop BOTH the clusterBy exchange and
    // the typed aggregate: ONE exchange (the aggregation's own) with the
    // map-side partial_max below it, and the SAME rows out (both shapes
    // aggregate the same struct with the same field-by-field ordering).
    val dflt = DvQueries.satCurrent(spark, dir)
    spark.conf.set(graft.core.Confs.LatestShapeKey, "partial")
    try {
      val q = DvQueries.satCurrent(spark, dir)
      assert(!plan(q).contains("graft_latest"), plan(q))
      assert(plan(q).contains("partial_max"), plan(q))
      assert(count[Exchange](q) == 1, plan(q))
      assert(count[WindowExec](q) == 0, plan(q))
      // structural comparison, not Row.toString (which conflates values
      // that differ only in rendering): same row count + empty multiset
      // differences both ways (exceptAll keeps duplicates; except would
      // deduplicate and miss a changed multiplicity)
      assert(q.count() == dflt.count(), "shape changed row count")
      assert(q.exceptAll(dflt).isEmpty && dflt.exceptAll(q).isEmpty,
        "shape changed row values")
    } finally spark.conf.unset(graft.core.Confs.LatestShapeKey)
  }

  test("natural-input currentRows defaults to the partial-collapse shape") {
    // The catalog/temp-view surface calls currentRows on NATURAL input (no
    // clusterBy). The typed hash aggregate there is the measured
    // catastrophe (110.0 s vs 8.2 s at sf10 — per-task groups blow the
    // ObjectHashAggregate fallback threshold and the typed buffers
    // serialize per row), so auto MUST resolve to partial on this path.
    import spark.implicits._
    val sat = Seq(
      ("k1", java.sql.Timestamp.valueOf("2026-01-01 00:00:00"), false, "h1", 1L, "old"),
      ("k1", java.sql.Timestamp.valueOf("2026-01-02 00:00:00"), false, "h2", 2L, "new"))
      .toDF("hk", "load_dts", "del_flag", "hash_diff", "run_id", "payload")
    val q = graft.dv.DvOps.currentRows(sat, "hk")
    assert(plan(q).contains("partial_max"), plan(q))
    assert(!plan(q).contains("graft_latest"), plan(q))
  }

  test("bv.<sat>_cv catalog view: latest-row via partial-collapse aggregate — one exchange") {
    // The QUALIFIED catalog surface (plain-SQL view text, reference users'
    // `bv.<sat>_cv` habit) must keep the ADJUDICATED latest-row shape: a
    // two-phase max(struct(...)) aggregate whose map-side partial collapses
    // each task to <= 1 row per key BEFORE the single exchange. The r21
    // BvProf profiling (bench/r21_bvprof_*.log) measured this the best or
    // tied shape on every profile (many-keys, deep-history, deep+wide) —
    // the two-phase HASH rewrite regressed many-key satellites 7-9x (per-
    // task groups blow the ObjectHashAggregate fallback threshold), and
    // the cluster-first engine shape regressed wide deep histories ~5x
    // (ships full history through the exchange). A WINDOW shape (rank per
    // key over full history) must never come back either.
    import graft.meta.{MetaStore, TableColumn, Transition}
    val meta = MetaStore(
      tables = Seq(
        TableColumn("planbv_customer", "stg", "c_custkey", "BIGINT", 1, "c"),
        TableColumn("planbv_customer", "stg", "c_name", "VARCHAR", 2, "c"),
        TableColumn("planbv_customer", "hub", "c_custkey", "BIGINT", 1, "bk"),
        TableColumn("planbv_customer", "hsat", "planbv_customer", "", 0, "hk"),
        TableColumn("planbv_customer", "hsat", "c_name", "VARCHAR", 1, "f")),
      transitions = Seq(
        Transition("planbv_customer", "c_custkey", "hub_planbv_customer", "c_custkey_bk", "planbv_customer", 1, raw = false, None, "bk"),
        Transition("planbv_customer", "c_name", "hsat_planbv_customer", "c_name", "planbv_customer_details", 1, raw = false, None, "f"),
        Transition("planbv_customer", "planbv_customer_hk", "hsat_planbv_customer", "planbv_customer", "planbv_customer_details", 0, raw = false, None, "sat_delta")))
    val root = tmpDir("graft_planbv")
    val g = new Graft(spark, s"$root/lake", meta, None, graft.dv.HashGen.Md5)
    g.initVault()
    val f = s"$root/c.csv"
    java.nio.file.Files.writeString(java.nio.file.Paths.get(f),
      "c_custkey,c_name\n1,ann\n2,bob\n3,alice")
    val r = g.executeFlow("planbv_customer", "planbv", Some(f),
      Some(java.sql.Timestamp.valueOf("2026-01-01 00:00:00")))
    assert(r.status == "success", r.errors.mkString("; "))
    val q = spark.sql("SELECT * FROM bv.hsat_planbv_customer_cv")
    // exactly ONE exchange, with the partial aggregate BELOW it (the
    // map-side collapse is the property that bounds shuffle bytes at 100 TB)
    assert(count[Exchange](q) == 1, plan(q))
    assert(plan(q).contains("partial_max"), plan(q))
    assert(count[WindowExec](q) == 0, plan(q))
    // and the view still computes the right rows (one live version per key)
    assert(q.count() == 3)
  }

  test("graft_latest SQL function: resolvable in ad-hoc SQL, hash aggregate, same rows as max") {
    import spark.implicits._
    Seq((1L, 10L, "a"), (1L, 20L, "b"), (2L, 5L, "c"))
      .toDF("k", "v", "p").createOrReplaceTempView("rms_t")
    val fast = spark.sql("SELECT k, graft_latest(struct(v, p)) AS r FROM rms_t GROUP BY k")
    assert(count[ObjectHashAggregateExec](fast) >= 1, plan(fast))
    val slow = spark.sql("SELECT k, max(struct(v, p)) AS r FROM rms_t GROUP BY k")
    val rows = Seq("[1,[20,b]]", "[2,[5,c]]")
    assert(fast.collect().map(_.toString).sorted.toSeq == rows)
    assert(slow.collect().map(_.toString).sorted.toSeq == rows)
  }

  test("Sessions.parseConf/applyConf: trailing ';' accepted; a token without '=' or a static conf fails naming it") {
    assert(graft.core.Sessions.parseConf("a=b; c = d ;") == Seq("a" -> "b", "c" -> "d"))
    val noEq = intercept[IllegalArgumentException](graft.core.Sessions.parseConf("a=b;c"))
    assert(noEq.getMessage.contains("'c'"), noEq.getMessage)
    val static = intercept[IllegalArgumentException](
      graft.core.Sessions.applyConf(spark, graft.core.Sessions.parseConf("spark.ui.enabled=true")))
    assert(static.getMessage.contains("'spark.ui.enabled'"), static.getMessage)
  }

  test("Prof A/B: base sides see the session conf, conf sides the override; the conf is restored after") {
    val (preset, unset) = ("graft.test.prof.preset", "graft.test.prof.unset")
    spark.conf.set(preset, "orig")
    spark.conf.unset(unset)
    val seen = scala.collection.mutable.ArrayBuffer.empty[(Option[String], Option[String])]
    val probe: graft.tools.Prof.Query = (s, _) => {
      seen += (s.conf.getOption(preset) -> s.conf.getOption(unset))
      s.range(0, 1000, 1, 4).toDF()
    }
    try {
      val printed = scala.collection.mutable.ArrayBuffer.empty[String]
      val rows = graft.tools.Prof.run(spark, dir, Seq("probe" -> probe), reps = 2,
        ab = Seq(preset -> "over", unset -> "on"), out = printed += _)
      assert(rows.map(r => (r.side, r.rep)) == Seq(("base", 1), ("conf", 1), ("base", 2), ("conf", 2)))
      val (base, conf) = (Some("orig") -> None, Some("over") -> Some("on"))
      assert(seen == Seq(base, conf, base, conf))
      assert(spark.conf.get(preset) == "orig")
      assert(spark.conf.getOption(unset).isEmpty)
      // the recorder drained the listener bus before the rows were built
      assert(rows.forall(r => r.err.isEmpty && r.jobs > 0 && r.tasks > 0), rows.map(_.json))
      assert(rows.head.json.startsWith("""{"q":"probe","side":"base","rep":1,"""), rows.head.json)
      // each header and JSON row carries the query's Janino compile count,
      // and rep 2 runs on the classes rep 1 compiled
      val headers = printed.filter(_.startsWith("[prof] probe side="))
      assert(headers.size == 4 && headers.forall(_.contains(" codegen_compiles=")), headers)
      assert(rows.forall(r => r.json.contains(s""""codegen_compiles":${r.compiles},""")), rows.map(_.json))
      assert(rows.filter(_.rep == 2).map(_.compiles) == Seq(0L, 0L), rows.map(_.json))
      // each row and stage line carries the tasks' deserialization CPU, which
      // every task spends before it runs
      assert(rows.forall(r => r.stages.map(_.deserCpuNs).sum > 0 &&
        r.json.contains(f""""deser_cpu_s":${r.stages.map(_.deserCpuNs).sum / 1e9}%.3f,""")), rows.map(_.json))
      val stageLines = printed.filter(_.startsWith("[prof]   stage "))
      assert(stageLines.nonEmpty && stageLines.forall(_.contains(" deserCpu=")), printed)
    } finally spark.conf.unset(preset)
  }
}
