package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Driver contract — see /root/repo/SURVEY.md §2 for the operator inventory. */
object SparkEntry {

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    graft.queries.Analytics.queries("q1_pricing")(spark, "/root/testdata/sf0.001")

  /** One entry per implemented operator from SURVEY.md §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    graft.queries.Analytics.queries ++
      graft.queries.DvQueries.queries ++
      graft.queries.TextOps.queries ++
      graft.queries.Dedup.queries ++
      graft.queries.Ann.queries ++
      graft.queries.MediaOps.queries

  /** DuckDB-runnable oracle SQL per query key (same parquet tables). For a
    * key whose query is its SQL text (`Analytics.sqlText`), the text is also
    * the Spark plan, so the oracle compares Spark's run of the text with
    * DuckDB's run of the same text.
    * Every registered query has an oracle except two rows-only-BY-DESIGN
    * entries whose core loop is iterative and not SQL-expressible:
    * `knn_ivf_kmeans` (float k-means training; driver rows-only check plus
    * AnnSpec's recall@10 ≥ 0.9 gate vs knn_brute) and `text_tokens_bpe`
    * (greedy BPE merge encoding; BpeSpec pins hand-computed fixtures and
    * the distributed pass against a driver-side re-encode). */
  def oracleSql: Map[String, String] =
    graft.queries.Analytics.oracles ++
      graft.queries.DvQueries.oracles ++
      graft.queries.TextOps.oracles ++
      graft.queries.Dedup.oracles ++
      graft.queries.Ann.oracles ++
      graft.queries.MediaOps.oracles
}
