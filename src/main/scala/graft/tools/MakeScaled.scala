package graft.tools

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.core.Tables

/** Bench-data scaler: replicates the driver's sf0.1 tables ×N with
  * join-consistent key shifting, producing an approximately-sfN dataset for
  * throughput measurement where Spark's fixed per-query overhead amortizes
  * (BASELINE.md methodology). Each replica r shifts every key column by
  * r × (max(key)+1), so the join graph of each replica is internally
  * consistent and cardinalities scale linearly. Dimension tables bounded by
  * the domain (region, nation) are copied verbatim, exactly like TPC-H
  * scaling. Payload columns (text, embeddings, timestamps) are unchanged —
  * value distributions, and therefore per-row work, stay identical to the
  * driver's data.
  *
  * This data is for TIMING ONLY — correctness remains gated on the driver's
  * own testdata via Verify/preverify.
  */
object MakeScaled {

  def main(args: Array[String]): Unit = {
    val Array(srcDir, dstDir, factorS) = args
    val factor = factorS.toInt
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "16")
    val spark = graft.core.Sessions.localBuilder(cpus, cpus).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    // max() preserves the input type, so an INT32 key in regenerated testdata
    // would make getLong throw — go through Number for type robustness.
    def off(df: DataFrame, key: String): Long =
      df.agg(max(col(key))).head().getAs[Number](0).longValue + 1L

    /** Replicate ×factor, shifting each named key by r*offset(key). */
    def scale(df: DataFrame, keys: Seq[String], parts: Int): DataFrame = {
      val offs = keys.map(k => k -> off(df, k)).toMap
      val rep = df.withColumn("__r", explode(sequence(lit(0L), lit(factor - 1L))))
      keys.foldLeft(rep) { case (d, k) =>
        d.withColumn(k, col(k) + col("__r") * lit(offs(k)))
      }.drop("__r").repartition(parts)
    }

    def write(df: DataFrame, name: String): Unit = {
      df.write.mode("overwrite").parquet(s"$dstDir/$name.parquet")
      println(s"[scale] wrote $name")
    }

    write(Tables.load(spark, srcDir, "region"), "region")
    write(Tables.load(spark, srcDir, "nation"), "nation")
    write(scale(Tables.load(spark, srcDir, "customer"), Seq("c_custkey"), 8), "customer")
    write(scale(Tables.load(spark, srcDir, "supplier"), Seq("s_suppkey"), 4), "supplier")
    write(scale(Tables.load(spark, srcDir, "part"), Seq("p_partkey"), 8), "part")

    // orders/lineitem/customer shifts must agree for the join graph to hold.
    val orders = Tables.load(spark, srcDir, "orders")
    val custOff = off(Tables.load(spark, srcDir, "customer"), "c_custkey")
    val ordOff = off(orders, "o_orderkey")
    val partOff = off(Tables.load(spark, srcDir, "part"), "p_partkey")
    val suppOff = off(Tables.load(spark, srcDir, "supplier"), "s_suppkey")

    write(
      orders.withColumn("__r", explode(sequence(lit(0L), lit(factor - 1L))))
        .withColumn("o_orderkey", col("o_orderkey") + col("__r") * lit(ordOff))
        .withColumn("o_custkey", col("o_custkey") + col("__r") * lit(custOff))
        .drop("__r").repartition(16),
      "orders")
    write(
      Tables.load(spark, srcDir, "lineitem")
        .withColumn("__r", explode(sequence(lit(0L), lit(factor - 1L))))
        .withColumn("l_orderkey", col("l_orderkey") + col("__r") * lit(ordOff))
        .withColumn("l_partkey", col("l_partkey") + col("__r") * lit(partOff))
        .withColumn("l_suppkey", col("l_suppkey") + col("__r") * lit(suppOff))
        .drop("__r").repartition(32),
      "lineitem")

    val events = Tables.loadEvents(spark, srcDir)
    write(scale(events, Seq("event_id", "user_id"), 16), "events")
    write(scale(Tables.load(spark, srcDir, "documents"), Seq("doc_id"), 16), "documents")
    write(scale(Tables.load(spark, srcDir, "embeddings"), Seq("vec_id"), 16), "embeddings")

    spark.stop()
  }
}
