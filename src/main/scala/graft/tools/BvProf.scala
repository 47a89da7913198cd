package graft.tools

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Scratch profiling main for the bv latest-row shapes (r21): SortAggregate
  * vs ObjectHashAggregate vs engine clusterBy shape, on BOTH key profiles —
  * shallow history (many keys, few versions) and deep history (fewer keys,
  * many versions). Not part of the library surface. */
object BvProf {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/tmp/sf10")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = graft.core.Sessions.localBuilder(cpus, cpus).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    val stages = new java.util.concurrent.ConcurrentHashMap[Int, Array[Long]]()
    spark.sparkContext.addSparkListener(new org.apache.spark.scheduler.SparkListener {
      override def onTaskEnd(t: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit = {
        val m = t.taskMetrics
        if (m != null) {
          val a = stages.computeIfAbsent(t.stageId, _ => new Array[Long](5))
          a.synchronized {
            a(0) += 1; a(1) += m.executorRunTime; a(2) += m.executorCpuTime / 1000000L
            a(3) += m.diskBytesSpilled; a(4) = math.max(a(4), m.executorRunTime)
          }
        }
      }
    })
    def t(label: String)(mk: => DataFrame): Unit = {
      stages.clear()
      val t0 = System.nanoTime()
      mk.write.format("noop").mode("overwrite").save()
      val sec = (System.nanoTime() - t0) / 1e9
      Thread.sleep(300)
      import scala.jdk.CollectionConverters._
      val rows = stages.asScala.toSeq.sortBy(_._1).map { case (id, a) =>
        f"    stage $id%4d tasks=${a(0)}%4d run=${a(1) / 1000.0}%8.1f cpu=${a(2) / 1000.0}%8.1f spillMB=${a(3) / 1048576}%6d maxTask=${a(4) / 1000.0}%5.1f"
      }.mkString("\n")
      println(f"[bvprof] $label: $sec%.1f s\n$rows")
    }

    // deep = few keys, many versions (the DV satellite-history profile);
    // shallow = many keys, few versions. Derived from lineitem.
    def base = spark.read.parquet(s"$sfDir/lineitem.parquet")
      .select(col("l_orderkey"), col("l_shipdate").as("load_dts"),
        md5(concat_ws("|", col("l_partkey"), col("l_linenumber"))).as("hash_diff"),
        col("l_linenumber").cast("long").as("run_id"),
        col("l_partkey"), col("l_suppkey"), col("l_quantity"))
    def shallow = base.withColumn("k", col("l_orderkey"))                  // ~15M keys x 4
    def deep = base.withColumn("k", pmod(col("l_orderkey"), lit(150000L))) // 150k keys x 400
    // the r10 regime: deep history AND wide payload rows (satellites carry
    // full attribute sets) — sort must move the fat rows, hash keeps one
    // buffer per key
    def deepwide = deep.withColumn("pay",
      concat_ws("_", (0 until 16).map(i => col("hash_diff")): _*))

    def aggStructFor(df: DataFrame) = struct(
      (Seq("load_dts", "run_id", "hash_diff", "l_partkey", "l_suppkey", "l_quantity") ++
        (if (df.columns.contains("pay")) Seq("pay") else Nil)).map(col): _*)
    def sortShape(df: DataFrame): DataFrame =
      df.groupBy(col("k")).agg(max(aggStructFor(df)).as("__r")).select(col("k"), col("__r.*"))
    def hashShape(df: DataFrame): DataFrame =
      df.groupBy(col("k")).agg(graft.dv.DvOps.maxStruct(aggStructFor(df)).as("__r"))
        .select(col("k"), col("__r.*"))
    def engineShape(df: DataFrame): DataFrame =
      graft.core.Tables.clusterBy(df, "k").groupBy(col("k"))
        .agg(graft.dv.DvOps.maxStruct(aggStructFor(df)).as("__r")).select(col("k"), col("__r.*"))

    base.write.format("noop").mode("overwrite").save() // warm scan

    // Optional comma-separated profile filter (e.g. SPARK_GRAFT_BVPROF_ONLY=deepwide
    // for the r22 sf30 confirmation run, where the full grid would take
    // most of an hour at 3x the rows).
    val only = sys.env.get("SPARK_GRAFT_BVPROF_ONLY").map(_.split(',').map(_.trim).toSet)
    val profiles = Seq("shallow" -> shallow _, "deep" -> deep _, "deepwide" -> deepwide _)
      .filter { case (n, _) => only.forall(_.contains(n)) }
    for (rep <- 1 to 2; (pname, p) <- profiles) {
      t(s"$pname sortAgg   rep$rep")(sortShape(p()))
      t(s"$pname hashAgg   rep$rep")(hashShape(p()))
      t(s"$pname clusterBy rep$rep")(engineShape(p()))
    }
    spark.stop()
  }
}
