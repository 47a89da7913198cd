package graftbench

import java.io.File
import java.util.SplittableRandom

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

/** Seeded corpus generator with the shape of the sf0.1 `documents.parquet`
  * table, as measured on its 5,000 rows (figures in graftbench/README.md):
  * lower-case words drawn uniformly from a 30-word vocabulary, 10 to 100
  * words per document (uniform), no punctuation, five languages, 20
  * sources. Near duplicates follow the table's own pattern, an earlier
  * document with the word "dup" appended; exact duplicates are copies that
  * differ only in case and punctuation, so they are equal after
  * normalisation. `exactShare` and `nearShare` are the shares of documents
  * injected as each kind. */
final class Corpus(seed: Long, n: Int, exactShare: Double, nearShare: Double) {
  import Corpus._

  private val rnd = new SplittableRandom(seed)
  val texts = mutable.ArrayBuffer.empty[String]
  val langs = mutable.ArrayBuffer.empty[String]
  /** Injected near-duplicate pairs (smaller id, larger id). */
  val nearPairs = mutable.ArrayBuffer.empty[(Long, Long)]
  /** Distinct normalised texts. */
  var distinct = 0

  private def lang(): String = {
    val u = rnd.nextDouble()
    Langs.find(_._2 > u).getOrElse(Langs.last)._1
  }

  locally {
    val seen = mutable.HashSet.empty[String]
    val bases = mutable.ArrayBuffer.empty[Int]
    while (texts.size < n) {
      val r = rnd.nextDouble()
      if (bases.nonEmpty && r < exactShare) {
        // copies concentrate on a few popular texts, like crawl boilerplate
        texts += variant(texts(bases(rnd.nextInt(math.max(1, bases.size / 10)))))
      } else if (bases.nonEmpty && r < exactShare + nearShare) {
        val bi = bases(rnd.nextInt(bases.size))
        val t = texts(bi) + " " + NearMark
        if (seen.add(t)) {
          nearPairs += ((bi.toLong, texts.size.toLong))
          bases += texts.size
          texts += t
        }
      } else {
        val t = Array.fill(MinWords + rnd.nextInt(MaxWords - MinWords + 1))(Vocab(rnd.nextInt(Vocab.length))).mkString(" ")
        if (seen.add(t)) { bases += texts.size; texts += t }
      }
      while (langs.size < texts.size) langs += lang()
    }
    distinct = seen.size
  }

  /** Same text after normalisation: random upper-casing and punctuation. */
  private def variant(t: String): String =
    t.split(' ').map { w =>
      val c = if (rnd.nextInt(5) == 0) w.capitalize else w
      if (rnd.nextInt(9) == 0) c + "," else c
    }.mkString(" ") + "."

  /** Canonical TSV (the fingerprinted bytes) and the parquet table the
    * queries read, `dir/documents.parquet`, with the sf0.1 table's columns. */
  def write(spark: SparkSession, dir: File): String = {
    dir.mkdirs()
    def source(i: Int) = s"src${i % Sources}"
    val tsv = VaultGen.write(new File(dir, "documents.tsv"), "doc_id\ttext\tlang\tsource",
      texts.indices.map(i => s"$i\t${texts(i)}\t${langs(i)}\t${source(i)}"))
    import spark.implicits._
    texts.indices.map(i => (i.toLong, texts(i), langs(i), source(i), texts(i).length.toLong))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .coalesce(1).write.parquet(new File(dir, "documents.parquet").getAbsolutePath)
    tsv
  }
}

object Corpus {
  /** The queries' normalisation: lower case, non-alphanumerics to spaces,
    * whitespace collapsed. */
  def norm(t: String): String = t.toLowerCase.replaceAll("[^a-z0-9\\s]", " ").replaceAll("\\s+", " ").trim

  /** The sf0.1 table's vocabulary: each word is 3.3% of its tokens. */
  val Vocab: Array[String] = Array("spark", "window", "merge", "table", "column", "vector", "stream", "value",
    "data", "small", "join", "filter", "big", "group", "hash", "customer", "sort", "order", "slow", "line",
    "part", "fast", "row", "the", "agg", "key", "query", "a", "scan", "batch")
  val MinWords = 10
  val MaxWords = 100
  /** The word the sf0.1 table appends to make a near duplicate. */
  val NearMark = "dup"
  /** Cumulative language shares of the sf0.1 table. */
  val Langs: Seq[(String, Double)] =
    Seq("en" -> 0.4118, "zh" -> 0.5624, "es" -> 0.7112, "fr" -> 0.8596, "de" -> 1.0)
  val Sources = 20
}
