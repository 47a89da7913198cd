package graft.tools

import graft.queries.Ann

/** Recall@10-vs-nprobe sweep for the trained-IVF operator: one line of
  * JSON per operating point against the exact brute-force neighbors on the
  * given corpus. Decides the `nprobe` sizing formula (the knnIvfKmeans doc
  * explains the scanned-fraction recall regime this measures).
  *
  * Usage: RecallSweep <sfDir> [nprobe,nprobe,...]
  */
object RecallSweep {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val probes = args.lift(1).map(_.split(',').map(_.trim.toInt).toSeq)
      .getOrElse(Seq(3, 6, 10, 16, 24, 32))
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = graft.core.Sessions.localBuilder(cpus, cpus).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    import spark.implicits._
    val brute = Ann.knnBrute(spark, sfDir).select($"query_id", $"neighbor_id")
      .as[(Long, Long)].collect().toSet
    val n = spark.read.parquet(s"$sfDir/embeddings.parquet").count()
    val nlist = Ann.nlistOf(n)
    for (np <- probes) {
      val t0 = System.nanoTime()
      val approx = Ann.ivfKmeans(spark, sfDir, Ann.nlistOf, np, iters = 10, replicate = 2)
        .select($"query_id", $"neighbor_id").as[(Long, Long)].collect().toSet
      val secs = (System.nanoTime() - t0) / 1e9
      val recall = (brute & approx).size.toDouble / math.max(1, brute.size)
      println(f"""{"bench":"recall_sweep","sf":"$sfDir","n":$n,"nlist":$nlist,"nprobe":$np,"recall_at10":$recall%.4f,"secs":$secs%.2f}""")
    }
    spark.stop()
  }
}
