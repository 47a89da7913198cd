package graftbench

import java.io.File

import org.apache.spark.sql.{DataFrame, Row, SparkSession}

import graft.queries.{Dedup, TextOps}

/** corpus_dedup: the training-data half of graft. Two seeded corpora sit on
  * either side of the exact-duplicate collapse switch in `Dedup`: "crawl"
  * (a high exact- and near-duplicate share, collapsed path) and "curated"
  * (no exact duplicates, plain path). One operation is one pass over one
  * corpus through quality scoring, exact, MinHash, n-gram and cluster
  * dedup, decontamination and sequence packing; the loop runs a `crawl`
  * pass then a `curated` pass per cycle. */
final class DedupWorkload extends Workload {
  val mainOp = "crawl"
  val auxOp = "curated"
  val itemOps = Set("crawl", "curated")

  /** Near-duplicate recall floors over the injected pairs. */
  val MinhashRecallFloor = 0.8
  val NgramRecallFloor = 0.95

  private var corpora: Map[String, (Corpus, String)] = Map.empty
  private var kept = 0L
  private var docs = 0L
  private val recall = scala.collection.mutable.Map.empty[String, Seq[Double]].withDefaultValue(Nil)

  def generate(ctx: Ctx): Unit = {
    val crawl = new Corpus(ctx.seed, Sizes.CorpusDocs, exactShare = 0.35, nearShare = 0.10)
    // the sf0.1 table's own shares: 0.16% exact copies, 5% near duplicates
    val curated = new Corpus(ctx.seed + 1, Sizes.CorpusDocs, exactShare = 0.0016, nearShare = 0.05)
    corpora = Map("crawl" -> (crawl, write(ctx, crawl, "crawl")), "curated" -> (curated, write(ctx, curated, "curated")))
    Inputs.record(ctx, ctx.dir("inputs"), _.getName.endsWith(".tsv"))
  }

  private def write(ctx: Ctx, c: Corpus, name: String): String = {
    val dir = ctx.dir(s"inputs/$name")
    c.write(ctx.spark, dir)
    VaultGen.write(new File(dir, "near_pairs.tsv"), "a_id\tb_id", c.nearPairs.map { case (a, b) => s"$a\t$b" })
    dir.getAbsolutePath
  }

  /** Warm-up: one untimed pass over each corpus, so both sides of the
    * collapse switch are compiled and the timed passes all find the
    * collapse decision in `Dedup`'s per-corpus memo. */
  def setup(ctx: Ctx): Unit =
    Seq("crawl", "curated").foreach { name =>
      val (c, dir) = corpora(name)
      pass(ctx, dir, c, record = false)
    }

  /** Whole cycles (a crawl pass, then a curated pass) until the deadline. */
  def loop(ctx: Ctx, deadlineNs: Long): Unit =
    while (System.nanoTime() < deadlineNs) Seq("crawl", "curated").foreach { name =>
      val (c, dir) = corpora(name)
      ctx.op(name)((pass(ctx, dir, c, record = true), c.texts.size.toLong))
    }

  private def run(ctx: Ctx, name: String)(df: => DataFrame): Array[Row] =
    ctx.call(s"queries.$name")(df.collect())

  /** One pass; checks exact-dedup counts and near-duplicate recall (the
    * warm-up passes are not checked). */
  private def pass(ctx: Ctx, dir: String, c: Corpus, record: Boolean): Boolean = {
    val s: SparkSession = ctx.spark
    val quality = run(ctx, "textQuality")(TextOps.textQuality(s, dir))
    val exact = run(ctx, "dedupExact")(Dedup.dedupExact(s, dir))
    val minhash = run(ctx, "dedupMinhash")(Dedup.dedupMinhash(s, dir))
    val ngram = run(ctx, "dedupNgramJaccard")(Dedup.dedupNgramJaccard(s, dir))
    val clusters = run(ctx, "dedupClusters")(Dedup.dedupClusters(s, dir))
    run(ctx, "corpusDecontaminate")(TextOps.corpusDecontaminate(s, dir))
    val pack = run(ctx, "corpusPack")(TextOps.corpusPack(s, dir))

    val n = c.texts.size
    // dedupExact runs over the corpus plus a re-ingested slice (doc_id % 7 == 0)
    val staged = n + (0 until n).count(_ % 7 == 0)
    val keptExact = staged - exact.map(_.getAs[Long]("n_copies") - 1).sum
    def pairs(rows: Array[Row]) = rows.map(r => (r.getAs[Long]("a_id"), r.getAs[Long]("b_id"))).toSet
    def recallOf(found: Set[(Long, Long)]) =
      if (c.nearPairs.isEmpty) 1.0 else c.nearPairs.count(found).toDouble / c.nearPairs.size
    val label = clusters.map(r => r.getAs[Long]("doc_id") -> r.getAs[Long]("cluster_id")).toMap
    val rMin = recallOf(pairs(minhash))
    val rNgram = recallOf(pairs(ngram))
    val rClusters = recallOf(c.nearPairs.filter { case (a, b) => label.get(a).exists(label.get(b).contains) }.toSet)
    val checks = Seq(
      (quality.length == n) -> s"textQuality returned ${quality.length} rows for $n documents",
      (pack.length == n) -> s"corpusPack returned ${pack.length} rows for $n documents",
      (keptExact == c.distinct) -> s"dedupExact keeps $keptExact documents, expected ${c.distinct} distinct texts",
      (rMin >= MinhashRecallFloor) -> f"dedupMinhash near-duplicate recall $rMin%.3f below $MinhashRecallFloor",
      (rNgram >= NgramRecallFloor) -> f"dedupNgramJaccard near-duplicate recall $rNgram%.3f below $NgramRecallFloor",
      (rClusters >= MinhashRecallFloor) -> f"dedupClusters near-duplicate recall $rClusters%.3f below $MinhashRecallFloor")
    if (!record) return true
    locally {
      // documents kept after exact and near dedup: one per cluster plus the unclustered
      kept += n - label.size + label.values.toSet.size
      docs += n
      recall("minhash") :+= rMin
      recall("ngram") :+= rNgram
    }
    checks.map { case (ok, msg) => ok || ctx.fail(msg) }.forall(identity)
  }

  def check(ctx: Ctx): Unit = {
    ctx.layer("queries.kept_per_doc") = kept.toDouble / docs.max(1L)
    ctx.layer("queries.minhash_recall") = recall("minhash").sum / recall("minhash").size.max(1)
    ctx.layer("queries.ngram_recall") = recall("ngram").sum / recall("ngram").size.max(1)
    // which side of the collapse switch each corpus sits on (Dedup's rule:
    // sum of g*(g-1) over exact-duplicate groups vs the document count)
    corpora.foreach { case (name, (c, _)) =>
      val groups = c.texts.groupBy(Corpus.norm).values.map(_.size.toLong)
      ctx.layer(s"queries.$name.dup_mass_per_doc") = groups.map(g => g * (g - 1)).sum.toDouble / c.texts.size
    }
  }
}
