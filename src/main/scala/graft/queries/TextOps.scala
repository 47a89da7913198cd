package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.core.Tables
import graft.functions.TextFns

/** Text-analysis operators over the `documents` table (SURVEY §2 #34-37).
  *
  * Each query has a byte-identical DuckDB oracle: regex patterns are chosen
  * from the Java∩RE2 common dialect, ratios divide exact integers in double,
  * and composite scores apply operations in the same written order in both
  * engines, so the driver's value-hash compare is stable.
  *
  * Scale posture: every operator is a single narrow projection (+ one
  * aggregation for nothing here) — scan-bound at 100 TB, trivially
  * partition-parallel, no shuffle at all.
  */
object TextOps {

  private def docs(s: SparkSession, dir: String): DataFrame = Tables.load(s, dir, "documents")

  // --------------------------------------------------------------- #37 fingerprint

  /** Document fingerprint: md5 of the canonical normalization. */
  def textFingerprint(s: SparkSession, dir: String): DataFrame =
    docs(s, dir).select(
      col("doc_id"),
      md5(TextFns.norm(col("text"))).as("fingerprint")
    )

  val textFingerprintSql: String =
    s"""SELECT doc_id, md5(${TextFns.normSql("text")}) AS fingerprint FROM documents"""

  // --------------------------------------------------------------- #36 tokens

  /** Token counting: whitespace tokens + BPE-ish sub-tokens (letter runs,
    * digit runs, single symbols). */
  def textTokens(s: SparkSession, dir: String): DataFrame =
    docs(s, dir).select(
      col("doc_id"),
      TextFns.wsTokenCount(col("text")).cast("long").as("n_ws_tokens"),
      regexp_count(col("text"), lit(TextFns.BpeishPattern)).cast("long").as("n_bpe_tokens")
    )

  val textTokensSql: String =
    s"""SELECT doc_id,
       | CAST(${TextFns.wsTokenCountSql("text")} AS BIGINT) AS n_ws_tokens,
       | CAST(len(regexp_extract_all(text, '${TextFns.BpeishPattern}')) AS BIGINT) AS n_bpe_tokens
       |FROM documents""".stripMargin

  // --------------------------------------------------------------- #36a real BPE tokens

  /** Corpus-keyed location of the frozen BPE merges table
    * ([[graft.core.FrozenArtifact]] — the frozen-centroids pattern).
    * VERSIONED by `spark.graft.bpe.mergesVersion`: a frozen table is
    * permanent per (corpus, version), and bumping the conf is the explicit
    * retrain path (r19 verdict #4b) — version 1 keeps the historical
    * unsuffixed path, so existing caches stay valid. */
  private[graft] def frozenMergesPath(s: SparkSession, dir: String): String = {
    val v = graft.core.Confs.bpeMergesVersion(s.conf)
    val prefix = if (v == 1L) "bpe_merges" else s"bpe_merges_v$v"
    // sharedPath, NOT path: nothing outside the engine reads the merges
    // (no oracle consumer), so the Verify per-run aux diversion would only
    // re-pay the corpus-scan train into a dir nothing reuses (r20 review)
    graft.core.FrozenArtifact.sharedPath(s, prefix, dir)
  }

  /** Name of the train-stats sidecar INSIDE the merges artifact dir —
    * underscore-prefixed so Spark's file index hides it from parquet
    * readers of the same dir. */
  private[graft] val BpeStatsFile = "_train_stats.json"

  /** The frozen artifact's train-stats JSON (dropped-mass error bar etc.),
    * None before the first train. */
  private[graft] def bpeTrainStats(s: SparkSession, dir: String): Option[String] = {
    val p = new org.apache.hadoop.fs.Path(frozenMergesPath(s, dir), BpeStatsFile)
    val fs = p.getFileSystem(s.sparkContext.hadoopConfiguration)
    if (!fs.exists(p)) None
    else {
      val in = fs.open(p)
      try Some(new String(in.readAllBytes(), java.nio.charset.StandardCharsets.UTF_8))
      finally in.close()
    }
  }

  /** ONE definition of the train-input stages, so a cost decomposition
    * measures the pipeline production actually runs (the sf10 one is
    * `bench/r20_bpe_sf10.json`): a map-side-combined word-frequency
    * aggregation over `docsDs` (the only corpus-wide shuffle; grams are
    * (word, count) pairs, never documents) DISK_ONLY-persisted vocab-sized — memory persistence of an unbounded
    * vocab would evict under pressure and silently re-run the corpus
    * scan — then the top-`dictCap` dictionary (deterministic word
    * tiebreak) and the mass totals, each one vocab-sized job over the
    * persisted aggregation. Returns (wordFreqs, totalMass, totalTypes,
    * aggSeconds, totalsSeconds). */
  private[graft] def wordFreqStats(
      s: SparkSession, docsDs: org.apache.spark.sql.Dataset[String], dictCap: Int)
    : (Seq[(String, Long)], Long, Long, Double, Double) = {
    import s.implicits._
    val t0 = System.nanoTime()
    val grouped = docsDs
      .flatMap(graft.functions.Bpe.preTokens(_))
      .groupBy(col("value").as("word")).agg(count(lit(1)).as("cnt"))
      .persist(org.apache.spark.storage.StorageLevel.DISK_ONLY)
    try {
      val wordFreqs = grouped.orderBy(col("cnt").desc, col("word").asc).limit(dictCap)
        .as[(String, Long)].collect().toSeq
      val t1 = System.nanoTime()
      val totals = grouped.agg(sum(col("cnt")), count(lit(1))).head()
      val t2 = System.nanoTime()
      // sum over ZERO rows is SQL NULL, not 0 — an empty corpus (or one
      // whose text yields no pre-tokens) must train an empty merges
      // table, not NPE (r20 review finding)
      val totalMass = if (totals.isNullAt(0)) 0L else totals.getLong(0)
      (wordFreqs, totalMass, totals.getLong(1), (t1 - t0) / 1e9, (t2 - t1) / 1e9)
    } finally { grouped.unpersist(); () }
  }

  /** Train-and-freeze the merges table for a corpus
    * ([[graft.core.FrozenArtifact.ensure]]): [[wordFreqStats]], classic
    * BPE merge training driver-side over the capped dictionary —
    * sentencepiece/HF train the same way: over word types weighted by
    * count — then parquet (rank, left, right).
    *
    * CROSS-JVM reuse (r20 review): a COMPLETE artifact already on disk —
    * parquet plus its `_train_stats.json`, which only a finished build
    * writes — short-circuits the build, honoring the "permanent per
    * (corpus, version)" contract across processes (verify then bench no
    * longer each pay the corpus scan). `spark.graft.bpe.mergesVersion`
    * is the explicit invalidation; pre-r20 artifacts lack the stats file
    * and retrain once.
    *
    * The dictionary cap bounds DRIVER memory, which means the tail of the
    * type distribution is dropped from training — silent on a 100 TB
    * corpus until r19 verdict #4a: the stats file records the
    * dropped-mass fraction beside the parquet, echoed in the build log —
    * token budgets carry an error bar. */
  private def ensureFrozenMerges(s: SparkSession, dir: String): String =
    graft.core.FrozenArtifact.ensure(frozenMergesPath(s, dir), "bpe merge train") { path =>
      import s.implicits._
      val statsPath = new org.apache.hadoop.fs.Path(path, BpeStatsFile)
      val fs = statsPath.getFileSystem(s.sparkContext.hadoopConfiguration)
      if (fs.exists(statsPath)) ", reused frozen artifact"
      else {
        val dictCap = graft.core.Confs.bpeDictCap(s.conf)
        val numMerges = graft.core.Confs.bpeNumMerges(s.conf)
        val (wordFreqs, totalMass, totalTypes, _, _) =
          wordFreqStats(s, docs(s, dir).select(col("text")).as[String], dictCap)
        val keptMass = wordFreqs.iterator.map(_._2).sum
        val droppedFrac =
          if (totalMass > 0L) 1.0 - keptMass.toDouble / totalMass.toDouble else 0.0
        val merges = graft.functions.Bpe.train(wordFreqs, numMerges)
        merges.iterator.zipWithIndex
          .map { case ((l, r), i) => (i, l, r) }.toSeq
          .toDF("rank", "left", "right")
          .coalesce(1).write.mode("overwrite").parquet(path)
        val statsJson =
          s"""{"dict_cap":$dictCap,"num_merges_requested":$numMerges,""" +
            s""""num_merges":${merges.length},"dict_types":${wordFreqs.size},""" +
            s""""total_types":$totalTypes,"total_pretokens":$totalMass,""" +
            s""""kept_mass":$keptMass,"dropped_mass_frac":$droppedFrac}"""
        // stats LAST: its presence is the completion marker the reuse
        // check above trusts
        val out = fs.create(statsPath, /* overwrite = */ true)
        try out.write(statsJson.getBytes(java.nio.charset.StandardCharsets.UTF_8))
        finally out.close()
        f", ${merges.length} merges, dict ${wordFreqs.size}/$totalTypes types, " +
          f"dropped-mass $droppedFrac%.4f"
      }
    }

  /** Real BPE token counts per document (SURVEY §2 #36a): greedy
    * lowest-rank merge encoding against the corpus's frozen merges table.
    * Rows-only under the driver (the greedy merge loop is iterative and
    * not SQL-expressible — documented like `knn_ivf_kmeans`); pinned by
    * BpeSpec against hand-computed fixtures, and `n_bpe_tokens ≤
    * n_pretokens ≤ chars` invariants hold by construction (every merge
    * strictly shrinks a pre-token's symbol count). The encode itself is a
    * zero-shuffle typed pass with the merges BROADCAST and a per-partition
    * Zipfian word cache — scan-bound and linear at 100 TB, like the rest
    * of the text family. */
  def textTokensBpe(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val path = ensureFrozenMerges(s, dir)
    val merges = s.read.parquet(path)
      .orderBy("rank").select("left", "right")
      .as[(String, String)].collect()
    val bcRanks = s.sparkContext.broadcast(graft.functions.Bpe.ranksOf(merges))
    docs(s, dir).select(col("doc_id"), col("text"))
      .as[(Long, String)]
      .mapPartitions { it =>
        val ranks = bcRanks.value
        val cache = new java.util.HashMap[String, Integer]()
        it.map { case (id, text) =>
          (id, graft.functions.Bpe.countTokens(text, ranks, cache))
        }
      }
      .toDF("doc_id", "n_bpe_tokens")
  }

  // --------------------------------------------------------------- #35 quality

  private val Stopwords = Seq("the", "a", "of", "and", "to", "in", "is", "on", "for", "with")
  private val StopwordsRe = s"\\b(${Stopwords.mkString("|")})\\b"

  /** Append the quality metric columns + composite score to any DataFrame
    * with a `text` column (single projection; shared by [[textQuality]] and
    * the one-pass [[corpusFilter]]). */
  // Char-class COUNTS via single-pass `translate` (codegen'd) instead of
  // java.util.regex: count(class) = len - len(text with class chars removed).
  // ASCII classes only, so the counts are exactly regexp_count's.
  private val AlnumChars = (('a' to 'z') ++ ('A' to 'Z') ++ ('0' to '9')).mkString
  private val WsChars = " \t\n" + "\u000B" + "\f\r" // java regex \s incl. vertical tab
  private def countChars(c: org.apache.spark.sql.Column, chars: String) =
    length(c) - length(translate(c, chars, ""))

  private def withQuality(df: DataFrame): DataFrame = {
    val nChars = length(col("text")).cast("long")
    val nWords = TextFns.wsTokenCount(col("text")).cast("long")
    val punct = (nChars - countChars(col("text"), AlnumChars) - countChars(col("text"), WsChars)).cast("long")
    val digits = countChars(col("text"), "0123456789").cast("long")
    val uppers = countChars(col("text"), ('A' to 'Z').mkString).cast("long")
    // Native word-boundary scan (WordSetCount) — the regexp_count(lower(..))
    // form was the last java.util.regex on the quality hot path (23x the
    // DuckDB oracle's RE2 at sf1).
    val stops = TextFns.wordSetCount(col("text"), Stopwords)
    val charsD = greatest(nChars, lit(1L)).cast("double")
    val wordsD = greatest(nWords, lit(1L)).cast("double")
    df
      .withColumn("n_chars", nChars)
      .withColumn("n_words", nWords)
      .withColumn("chars_per_word", nChars.cast("double") / wordsD)
      .withColumn("punct_ratio", punct.cast("double") / charsD)
      .withColumn("digit_ratio", digits.cast("double") / charsD)
      .withColumn("upper_ratio", uppers.cast("double") / charsD)
      .withColumn("stopword_ratio", stops.cast("double") / wordsD)
      .withColumn(
        "quality_score",
        least(lit(1.0), col("n_words").cast("double") / 200.0) * 0.5 +
          col("stopword_ratio") * 0.5 -
          col("punct_ratio") * 0.25 -
          col("digit_ratio") * 0.25
      )
  }

  /** Quality scoring: structural ratios + a fixed-order composite score.
    * Ratio denominators are guarded (documents are non-empty, but the
    * operator shouldn't NaN on degenerate input). */
  def textQuality(s: SparkSession, dir: String): DataFrame =
    // spread: the per-row work (native word-boundary stopword scan + four
    // character-class counts) is ~6x the other text ops', and the docs
    // parquet packs into 1-2 splits at bench scale — measured 2.6 s
    // single-task at sf1 where every sibling op stays at the floor.
    // No-op on many-split inputs.
    withQuality(Tables.spread(docs(s, dir)))
      .select(
        col("doc_id"), col("n_chars"), col("n_words"), col("chars_per_word"),
        col("punct_ratio"), col("digit_ratio"), col("upper_ratio"),
        col("stopword_ratio"), col("quality_score"))

  val textQualitySql: String =
    s"""WITH m AS (
       |  SELECT doc_id,
       |    CAST(length(text) AS BIGINT) AS n_chars,
       |    CAST(${TextFns.wsTokenCountSql("text")} AS BIGINT) AS n_words,
       |    CAST(len(regexp_extract_all(text, '[^a-zA-Z0-9 \\t\\n\\x0b\\f\\r]')) AS BIGINT) AS punct,
       |    CAST(len(regexp_extract_all(text, '[0-9]')) AS BIGINT) AS digits,
       |    CAST(len(regexp_extract_all(text, '[A-Z]')) AS BIGINT) AS uppers,
       |    CAST(len(regexp_extract_all(lower(text), '$StopwordsRe')) AS BIGINT) AS stops
       |  FROM documents)
       |SELECT doc_id, n_chars, n_words,
       |  CAST(n_chars AS DOUBLE) / CAST(greatest(n_words, 1) AS DOUBLE) AS chars_per_word,
       |  CAST(punct AS DOUBLE) / CAST(greatest(n_chars, 1) AS DOUBLE) AS punct_ratio,
       |  CAST(digits AS DOUBLE) / CAST(greatest(n_chars, 1) AS DOUBLE) AS digit_ratio,
       |  CAST(uppers AS DOUBLE) / CAST(greatest(n_chars, 1) AS DOUBLE) AS upper_ratio,
       |  CAST(stops AS DOUBLE) / CAST(greatest(n_words, 1) AS DOUBLE) AS stopword_ratio,
       |  least(1.0, CAST(n_words AS DOUBLE) / 200.0) * 0.5
       |    + (CAST(stops AS DOUBLE) / CAST(greatest(n_words, 1) AS DOUBLE)) * 0.5
       |    - (CAST(punct AS DOUBLE) / CAST(greatest(n_chars, 1) AS DOUBLE)) * 0.25
       |    - (CAST(digits AS DOUBLE) / CAST(greatest(n_chars, 1) AS DOUBLE)) * 0.25 AS quality_score
       |FROM m""".stripMargin

  // --------------------------------------------------------------- #34 language ID

  private val LangWords: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq("the", "and", "of", "to", "in", "is", "that", "it"),
    "de" -> Seq("der", "die", "das", "und", "ist", "nicht", "ein"),
    "fr" -> Seq("le", "la", "les", "et", "est", "une", "que"),
    "es" -> Seq("el", "los", "las", "es", "una", "y", "por")
  )
  private val LangRes: Seq[(String, String)] =
    LangWords.map { case (l, ws) => l -> s"\\b(${ws.mkString("|")})\\b" }
  private val CjkRe = "[\\x{4e00}-\\x{9fff}]"

  /** Append per-language hit counts + argmax `detected_lang` to any
    * DataFrame with a `text` column. */
  private def withLangid(df: DataFrame): DataFrame = {
    val withHits = LangWords.foldLeft(df) { case (d, (l, ws)) =>
      d.withColumn(s"${l}_hits", TextFns.wordSetCount(col("text"), ws))
    }.withColumn("zh_hits", regexp_count(col("text"), lit(CjkRe)).cast("long"))
    val en = col("en_hits"); val de = col("de_hits"); val fr = col("fr_hits")
    val es = col("es_hits"); val zh = col("zh_hits")
    withHits.withColumn(
      "detected_lang",
      when(en >= de && en >= fr && en >= es && en >= zh, "en")
        .when(de >= fr && de >= es && de >= zh, "de")
        .when(fr >= es && fr >= zh, "fr")
        .when(es >= zh, "es")
        .otherwise("zh")
    )
  }

  /** Language ID via stopword-hit counts (n-gram-free heuristic): count
    * per-language stopword matches + CJK characters, argmax with a fixed
    * priority order (en > de > fr > es > zh) on ties. */
  def textLangid(s: SparkSession, dir: String): DataFrame =
    withLangid(docs(s, dir)).select(
      col("doc_id"), col("en_hits"), col("de_hits"), col("fr_hits"),
      col("es_hits"), col("zh_hits"), col("detected_lang"))

  val textLangidSql: String = {
    val hitCols = LangRes
      .map { case (l, re) => s"CAST(len(regexp_extract_all(lower(text), '$re')) AS BIGINT) AS ${l}_hits" }
      .mkString(",\n    ")
    s"""WITH h AS (
       |  SELECT doc_id,
       |    $hitCols,
       |    CAST(len(regexp_extract_all(text, '$CjkRe')) AS BIGINT) AS zh_hits
       |  FROM documents)
       |SELECT doc_id, en_hits, de_hits, fr_hits, es_hits, zh_hits,
       |  CASE
       |    WHEN en_hits >= de_hits AND en_hits >= fr_hits AND en_hits >= es_hits AND en_hits >= zh_hits THEN 'en'
       |    WHEN de_hits >= fr_hits AND de_hits >= es_hits AND de_hits >= zh_hits THEN 'de'
       |    WHEN fr_hits >= es_hits AND fr_hits >= zh_hits THEN 'fr'
       |    WHEN es_hits >= zh_hits THEN 'es'
       |    ELSE 'zh'
       |  END AS detected_lang
       |FROM h""".stripMargin
  }

  // --------------------------------------------------------------- corpus filter

  /** End-to-end training-corpus filter — the composition the individual
    * operators exist for: keep documents that (a) clear the quality score,
    * (b) are detected-English, and (c) are the canonical (minimum-id) copy
    * of their content-fingerprint group. Output is the surviving doc ids
    * with their scores — the manifest a downstream tokenizer run consumes.
    *
    * ONE scan: quality + langid + fingerprint are a single fused projection,
    * and canonical selection is a min-over-fingerprint window on that same
    * pass (the join-of-three-subqueries formulation scans documents three
    * times; at 100 TB the scan IS the cost). */
  def corpusFilter(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // spread like textQuality: this projection fuses the quality scans,
    // FOUR language stopword scans, and an md5 fingerprint — strictly more
    // per-row work than textQuality's measured 2.6 s single-task at sf1 —
    // and the docs parquet packs into 1-2 splits at bench scale. No-op on
    // many-split inputs.
    val base = withLangid(withQuality(Tables.spread(docs(s, dir))))
      .select(
        col("doc_id"), col("quality_score"), col("detected_lang"),
        md5(TextFns.norm(col("text"))).as("fingerprint"))
    base
      .withColumn("min_id", min(col("doc_id")).over(Window.partitionBy(col("fingerprint"))))
      .filter(col("doc_id") === col("min_id") &&
        col("detected_lang") === "en" && col("quality_score") >= 0.2)
      .select(col("doc_id"), col("quality_score"))
  }

  val corpusFilterSql: String =
    s"""WITH q AS ($textQualitySql),
       | l AS ($textLangidSql),
       | canon AS (
       |  SELECT min(doc_id) AS doc_id
       |  FROM (SELECT doc_id, md5(${TextFns.normSql("text")}) AS fp FROM documents) x
       |  GROUP BY fp)
       |SELECT q.doc_id, q.quality_score
       |FROM q
       |JOIN l ON q.doc_id = l.doc_id
       |JOIN canon ON q.doc_id = canon.doc_id
       |WHERE l.detected_lang = 'en' AND q.quality_score >= 0.2""".stripMargin

  // --------------------------------------------------------------- corpus split

  /** Deterministic train/val/test assignment — the reproducible-split
    * primitive every training-data pipeline needs: bucket by the first hex
    * nibble of md5(doc_id), so the same document lands in the same split on
    * any engine, any run, any shard layout (never `rand()`). Nibble ranges:
    * 0-b → train (12/16), c-d → val (2/16), e-f → test (2/16). Output is the
    * per-split manifest summary (doc count + token budget) a run config
    * consumes; the assignment itself is the `split` column. Scan-bound, one
    * tiny 3-group aggregation — trivially 100 TB-safe. */
  def corpusSplit(s: SparkSession, dir: String): DataFrame = {
    val nib = substring(md5(col("doc_id").cast("string")), 1, 1)
    docs(s, dir)
      .select(
        col("doc_id"),
        when(nib <= "b", "train").when(nib <= "d", "val").otherwise("test").as("split"),
        TextFns.wsTokenCount(col("text")).cast("long").as("n_tokens"))
      .groupBy(col("split"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n_tokens")).as("sum_tokens"))
  }

  val corpusSplitSql: String =
    s"""WITH a AS (
       |  SELECT doc_id,
       |         CASE WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 1) <= 'b' THEN 'train'
       |              WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 1) <= 'd' THEN 'val'
       |              ELSE 'test' END AS split,
       |         CAST(${TextFns.wsTokenCountSql("text")} AS BIGINT) AS n_tokens
       |  FROM documents)
       |SELECT split, count(*) AS n_docs, CAST(sum(n_tokens) AS BIGINT) AS sum_tokens
       |FROM a GROUP BY split""".stripMargin

  // ------------------------------------------------------- decontamination

  /** Benchmark decontamination — the n-gram overlap check every serious
    * pretraining pipeline runs before training (flag a training document if
    * it shares any long n-gram with an evaluation set). The held-out set
    * here is the deterministic doc_id % 97 == 0 slice standing in for a
    * benchmark suite; the n-gram width is 5 over normalized words (the
    * corpus' ~40-word docs make 5 the proportional analogue of the
    * industry 13-gram rule over web pages).
    *
    * Scale shape: eval suites are tiny (MBs) next to the corpus (TBs) —
    * the distinct eval-shingle set builds locally and broadcast-joins
    * against the training-side shingle stream, so the corpus-sized side
    * never shuffles by shingle; the per-doc hit count aggregates on the
    * already-doc-partitioned stream. AQE does exactly this at bench scale
    * (eval side under the broadcast threshold). */
  def corpusDecontaminate(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    def sh(df: DataFrame) = df
      .select(col("doc_id"), TextFns.norm(col("text")).as("norm"))
      .as[(Long, String)]
      .flatMap { case (id, n) => TextFns.shinglesOf(n, 5).map(g => (id, g)) }
      .toDF("doc_id", "gram")
    val evalGrams = sh(docs(s, dir).filter(col("doc_id") % 97 === 0))
      .select(col("gram")).distinct()
    sh(docs(s, dir).filter(col("doc_id") % 97 =!= 0))
      .join(evalGrams, "gram")
      .groupBy(col("doc_id"))
      .agg(countDistinct(col("gram")).as("n_hits"))
  }

  private def gram5Sql: String =
    "list_distinct(list_transform(range(1, greatest(len(w) - 3, 1)), " +
      "i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2] || ' ' || w[i+3] || ' ' || w[i+4]))"

  val corpusDecontaminateSql: String =
    s"""WITH d AS (SELECT doc_id, string_split(${TextFns.normSql("text")}, ' ') AS w FROM documents),
       | g AS (SELECT doc_id, unnest($gram5Sql) AS gram FROM d WHERE len(w) >= 5),
       | ev AS (SELECT DISTINCT gram FROM g WHERE doc_id % 97 = 0)
       |SELECT g.doc_id, CAST(count(DISTINCT g.gram) AS BIGINT) AS n_hits
       |FROM g JOIN ev USING (gram)
       |WHERE g.doc_id % 97 <> 0
       |GROUP BY g.doc_id""".stripMargin

  // ------------------------------------------------------- sequence packing

  /** Sequence-packing manifest — concat-and-chunk pretraining prep: documents
    * are concatenated in deterministic doc_id order and cut into fixed
    * 512-token sequences; each document's manifest row says which sequence
    * it starts in and at what offset (what a sharded tokenizer consumes to
    * build packed examples in parallel).
    *
    * The prefix sum is TWO-LEVEL, not a global window: a naive
    * `Window.orderBy(doc_id)` with no partition key collapses the whole
    * corpus onto one task. Instead docs bucket by deterministic doc_id
    * blocks; the per-bucket token totals (one row per 8k docs — metadata-
    * sized at any corpus scale) get their own tiny running sum, broadcast
    * back as bucket offsets, and the per-doc cumsum runs partitioned by
    * bucket — every stage parallel, the only serial window being over
    * bucket COUNTS, never rows. Deterministic blocks (not
    * repartitionByRange) keep the two passes' partitionings identical
    * without a persist. */
  def corpusPack(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val seqLen = 512L
    val block = 8192L
    val toks = docs(s, dir)
      .select(col("doc_id"), TextFns.wsTokenCount(col("text")).cast("long").as("n_tokens"))
      .withColumn("pid", (col("doc_id") / lit(block)).cast("long"))
    val offsets = toks.groupBy(col("pid"))
      .agg(sum(col("n_tokens")).as("bucket_tokens"))
      .withColumn(
        "bucket_offset",
        coalesce(
          sum(col("bucket_tokens")).over(
            Window.orderBy(col("pid")).rowsBetween(Window.unboundedPreceding, -1)),
          lit(0L)))
      .select(col("pid"), col("bucket_offset"))
    val local = Window.partitionBy(col("pid")).orderBy(col("doc_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    toks
      .join(broadcast(offsets), "pid")
      .withColumn("end_tok", sum(col("n_tokens")).over(local) + col("bucket_offset"))
      .select(
        col("doc_id"), col("n_tokens"),
        (((col("end_tok") - col("n_tokens")) / seqLen).cast("long")).as("seq_id"),
        ((col("end_tok") - col("n_tokens")) % seqLen).as("seq_offset"))
  }

  val corpusPackSql: String =
    s"""WITH t AS (
       |  SELECT doc_id, CAST(${TextFns.wsTokenCountSql("text")} AS BIGINT) AS n_tokens
       |  FROM documents),
       | c AS (SELECT doc_id, n_tokens,
       |              CAST(sum(n_tokens) OVER (ORDER BY doc_id
       |                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS end_tok
       |       FROM t)
       |SELECT doc_id, n_tokens,
       |       CAST((end_tok - n_tokens) // 512 AS BIGINT) AS seq_id,
       |       CAST((end_tok - n_tokens) % 512 AS BIGINT) AS seq_offset
       |FROM c""".stripMargin

  // ------------------------------------------------------- source data card

  /** Per-(source, lang) data card — the governance rollup a corpus release
    * ships with: volume, token budget, and exact-dup rate per provenance
    * slice. Single scan + one small aggregation (fingerprint distinct-count
    * is per-group); trivially scan-bound at 100 TB. */
  def corpusStats(s: SparkSession, dir: String): DataFrame =
    docs(s, dir)
      .select(
        col("source"), col("lang"), col("n_chars"),
        TextFns.wsTokenCount(col("text")).cast("long").as("n_tokens"),
        md5(TextFns.norm(col("text"))).as("fp"))
      .groupBy(col("source"), col("lang"))
      .agg(
        count(lit(1)).as("n_docs"),
        sum(col("n_tokens")).as("sum_tokens"),
        sum(col("n_chars")).as("sum_chars"),
        countDistinct(col("fp")).as("n_distinct"))

  val corpusStatsSql: String =
    s"""SELECT source, lang, count(*) AS n_docs,
       |       CAST(sum(CAST(${TextFns.wsTokenCountSql("text")} AS BIGINT)) AS BIGINT) AS sum_tokens,
       |       CAST(sum(n_chars) AS BIGINT) AS sum_chars,
       |       CAST(count(DISTINCT md5(${TextFns.normSql("text")})) AS BIGINT) AS n_distinct
       |FROM documents GROUP BY source, lang""".stripMargin

  /** Gopher-style repetition metrics per document: total/distinct word
    * counts plus the peak word and peak bigram multiplicities (the
    * numerators of the "fraction of tokens in the most common n-gram"
    * filters; counts stay integers so the driver hash is
    * float-rounding-free, and the downstream filter fraction is
    * `max_*_cnt / n_words`).
    *
    * Scale shape: one typed flatMap emits (doc_id, gram) pairs — words and
    * bigrams in the same pass, tagged — then one shuffle keyed on
    * (doc_id, gram, tag) with map-side combine, and a second doc_id-keyed
    * (pre-combined, |distinct grams|-sized) aggregation. Both keys embed
    * doc_id, so hot grams cannot skew a partition; cost is linear in corpus
    * token count. */
  def textRepetition(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Tables.spread(docs(s, dir).select(col("doc_id"), TextFns.norm(col("text")).as("norm")))
      .as[(Long, String)]
      .flatMap { case (id, n) =>
        val ws = n.split(' ').filter(_.nonEmpty)
        val words = ws.iterator.map(w => (id, w, 0))
        val bigrams = ws.iterator.zip(ws.iterator.drop(1)).map { case (a, b) => (id, a + " " + b, 1) }
        words ++ bigrams
      }
      .toDF("doc_id", "gram", "is_bigram")
      .groupBy(col("doc_id"), col("gram"), col("is_bigram"))
      .agg(count(lit(1)).as("cnt"))
      .groupBy(col("doc_id"))
      .agg(
        coalesce(sum(when(col("is_bigram") === 0, col("cnt"))), lit(0L)).as("n_words"),
        count(when(col("is_bigram") === 0, lit(1))).as("n_distinct_words"),
        coalesce(max(when(col("is_bigram") === 0, col("cnt"))), lit(0L)).as("max_word_cnt"),
        coalesce(max(when(col("is_bigram") === 1, col("cnt"))), lit(0L)).as("max_bigram_cnt"))
  }

  val textRepetitionSql: String =
    s"""WITH d AS (
       |  SELECT doc_id,
       |         list_filter(string_split(${TextFns.normSql("text")}, ' '), x -> len(x) > 0) AS words
       |  FROM documents),
       | g AS (
       |  SELECT doc_id, unnest(words) AS gram, 0 AS is_bigram FROM d
       |  UNION ALL
       |  SELECT doc_id, words[i] || ' ' || words[i + 1] AS gram, 1 AS is_bigram
       |  FROM d, unnest(range(1, len(words))) AS t(i)),
       | c AS (SELECT doc_id, gram, is_bigram, count(*) AS cnt FROM g GROUP BY 1, 2, 3)
       |SELECT doc_id,
       |  CAST(coalesce(sum(CASE WHEN is_bigram = 0 THEN cnt END), 0) AS BIGINT) AS n_words,
       |  CAST(count(CASE WHEN is_bigram = 0 THEN 1 END) AS BIGINT) AS n_distinct_words,
       |  CAST(coalesce(max(CASE WHEN is_bigram = 0 THEN cnt END), 0) AS BIGINT) AS max_word_cnt,
       |  CAST(coalesce(max(CASE WHEN is_bigram = 1 THEN cnt END), 0) AS BIGINT) AS max_bigram_cnt
       |FROM c GROUP BY doc_id""".stripMargin

  /** Domain-mixture rebalance sampling — the "downweight over-represented
    * sources to a token budget" step of a pretraining data recipe. Each
    * source's sampling rate is `min(1, target / source_tokens)` with the
    * target set from the data itself (half the mean per-source token mass),
    * and each document keeps/drops by a deterministic md5-derived uniform —
    * so the sample is reproducible row-for-row across engines and runs, and
    * adding machines never changes the output (no RNG state, no
    * per-partition sequence).
    *
    * Scale shape: one corpus scan computes (source, tokens, u); the
    * per-source totals are a |sources|-sized aggregate whose rate table
    * broadcast-joins back — the corpus never shuffles, only its per-source
    * rollup does. Output is the per-source before/after audit (the
    * manifest a mixture step must emit), not the sampled rows themselves. */
  def corpusSample(s: SparkSession, dir: String): DataFrame = {
    val u = conv(substring(md5(col("doc_id").cast("string")), 1, 4), 16, 10)
      .cast("long").cast("double") / 65536.0
    val d = docs(s, dir)
      .select(
        col("doc_id"), col("source"),
        TextFns.wsTokenCount(col("text")).cast("long").as("n_tokens"))
      .withColumn("u", u)
    val bySrc = d.groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs_in"), sum(col("n_tokens")).as("tokens_in"))
    val target = bySrc
      .agg((sum(col("tokens_in")).cast("double") / count(lit(1)).cast("double") * 0.5).as("target"))
    val rates = bySrc.join(broadcast(target))
      .withColumn("rate", least(lit(1.0), col("target") / col("tokens_in").cast("double")))
      .select(col("source"), col("n_docs_in"), col("tokens_in"), col("rate"))
    d.join(broadcast(rates), "source")
      .groupBy(col("source"), col("n_docs_in"), col("tokens_in"))
      .agg(
        count(when(col("u") < col("rate"), lit(1))).as("n_docs_kept"),
        coalesce(sum(when(col("u") < col("rate"), col("n_tokens"))), lit(0L)).as("tokens_kept"))
  }

  val corpusSampleSql: String = {
    val nib = (i: Int) =>
      s"(strpos('0123456789abcdef', substr(md5(CAST(doc_id AS VARCHAR)), $i, 1)) - 1)"
    s"""WITH d AS (
       |  SELECT doc_id, source,
       |         CAST(${TextFns.wsTokenCountSql("text")} AS BIGINT) AS n_tokens,
       |         CAST(${nib(1)} * 4096 + ${nib(2)} * 256 + ${nib(3)} * 16 + ${nib(4)} AS DOUBLE) / 65536.0 AS u
       |  FROM documents),
       | src AS (SELECT source, count(*) AS n_docs_in, sum(n_tokens) AS tokens_in FROM d GROUP BY source),
       | t AS (SELECT CAST(sum(tokens_in) AS DOUBLE) / CAST(count(*) AS DOUBLE) * 0.5 AS target FROM src),
       | r AS (SELECT source, n_docs_in, tokens_in,
       |              least(CAST(1 AS DOUBLE), target / CAST(tokens_in AS DOUBLE)) AS rate
       |       FROM src, t)
       |SELECT d.source, CAST(r.n_docs_in AS BIGINT) AS n_docs_in, CAST(r.tokens_in AS BIGINT) AS tokens_in,
       |       CAST(count(CASE WHEN d.u < r.rate THEN 1 END) AS BIGINT) AS n_docs_kept,
       |       CAST(coalesce(sum(CASE WHEN d.u < r.rate THEN d.n_tokens END), 0) AS BIGINT) AS tokens_kept
       |FROM d JOIN r ON d.source = r.source
       |GROUP BY 1, 2, 3""".stripMargin
  }

  /** Corpus vocabulary: the global top-100 word bigrams by frequency
    * (deterministic tiebreak on the gram itself) — the "most common n-grams"
    * table every corpus audit starts from.
    *
    * Scale shape: bigram rows aggregate with map-side combine on the gram
    * key, then the ORDER BY + LIMIT plans as TakeOrderedAndProject — each
    * partition keeps a 100-row heap and the driver merges |partitions|·100
    * rows; no global sort materializes at any width. */
  def corpusVocab(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Tables.spread(docs(s, dir).select(col("doc_id"), TextFns.norm(col("text")).as("norm")))
      .as[(Long, String)]
      .flatMap { case (_, n) =>
        val ws = n.split(' ').filter(_.nonEmpty)
        ws.iterator.zip(ws.iterator.drop(1)).map { case (a, b) => a + " " + b }
      }
      .toDF("gram")
      .groupBy(col("gram"))
      .agg(count(lit(1)).as("cnt"))
      .orderBy(col("cnt").desc, col("gram"))
      .limit(100)
  }

  val corpusVocabSql: String =
    s"""WITH d AS (
       |  SELECT list_filter(string_split(${TextFns.normSql("text")}, ' '), x -> len(x) > 0) AS words
       |  FROM documents),
       | g AS (SELECT words[i] || ' ' || words[i + 1] AS gram
       |       FROM d, unnest(range(1, len(words))) AS t(i))
       |SELECT gram, count(*) AS cnt FROM g GROUP BY gram
       |ORDER BY cnt DESC, gram LIMIT 100""".stripMargin

  /** Blocklist scrub metrics (C4-style badwords filtering): per document,
    * how many whitespace tokens hit a deny list and what fraction of the
    * doc they are. Scan-bound single pass, zero shuffles — the token
    * filter is a codegen'd higher-order array function (filter +
    * array_contains over a literal array), not a UDF. A real deny list is
    * thousands of terms: same plan, the literal array becomes a broadcast
    * lookup; the per-row cost stays O(tokens). The ratio divides two exact
    * ints in double — cross-engine deterministic. */
  def textBlocklist(s: SparkSession, dir: String): DataFrame = {
    val deny = array(BlockTerms.map(lit): _*)
    val toks = split(col("text"), " ")
    docs(s, dir).select(
      col("doc_id"),
      size(toks).cast("long").as("n_tokens"),
      size(filter(toks, x => array_contains(deny, x))).cast("long").as("n_blocked"))
      .withColumn("blocked_ratio", col("n_blocked").cast("double") / col("n_tokens"))
  }

  private val BlockTerms = Seq("spark", "table", "query")

  val textBlocklistSql: String = {
    val inList = BlockTerms.map(t => s"'$t'").mkString(", ")
    s"""SELECT doc_id,
       |  len(string_split(text, ' ')) AS n_tokens,
       |  len(list_filter(string_split(text, ' '), x -> x IN ($inList))) AS n_blocked,
       |  CAST(len(list_filter(string_split(text, ' '), x -> x IN ($inList))) AS DOUBLE)
       |    / len(string_split(text, ' ')) AS blocked_ratio
       |FROM documents""".stripMargin
  }

  // --------------------------------------------------------------- #37j PII scrub

  /** Java∩RE2 common-dialect patterns (no lookaround, no \b-adjacent
    * ambiguity, greedy quantifiers behave identically) so the Spark and
    * DuckDB replace/count results are byte-identical. The URL terminator is
    * an EXPLICIT whitespace class: Java's `\s` includes \x0B, RE2's does
    * not, so `[^\s]+` would diverge on vertical-tab input. */
  private[graft] val UrlRe = "https?://[^ \\t\\n\\x0B\\f\\r]+"
  private[graft] val EmailRe = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  private[graft] val PhoneRe = "\\+?[0-9][0-9()\\- ]{7,}[0-9]"

  /** PII/URL scrubbing — the redaction pass every training-data pipeline
    * runs before packing. Counts each category on the ORIGINAL text, then
    * redacts sequentially url → email → phone (order fixed so both engines
    * agree on overlaps); the oracle compares the md5 of the scrubbed text,
    * so a single divergent replacement anywhere hash-mismatches. Documents
    * are augmented with deterministic doc_id-seeded PII (the corpus itself
    * is synthetic and PII-free) — the augmentation is the same string
    * expression in both engines. Single narrow projection: scan-bound,
    * no shuffle, codegen'd regexp natives — the 100 TB shape. */
  def textScrub(s: SparkSession, dir: String): DataFrame = {
    val aug = concat(
      col("text"), lit(" contact user"), col("doc_id"),
      lit("@mail.example.com or +1 (555) 010-"),
      lpad((col("doc_id") % 10000).cast("string"), 4, "0"),
      lit(" via https://ex.example/d/"), col("doc_id"), lit(" ."))
    val scrubbed = regexp_replace(
      regexp_replace(
        regexp_replace(col("t"), UrlRe, "<URL>"),
        EmailRe, "<EMAIL>"),
      PhoneRe, "<PHONE>")
    docs(s, dir).select(col("doc_id"), aug.as("t"))
      .select(
        col("doc_id"),
        regexp_count(col("t"), lit(UrlRe)).cast("long").as("n_urls"),
        regexp_count(col("t"), lit(EmailRe)).cast("long").as("n_emails"),
        regexp_count(col("t"), lit(PhoneRe)).cast("long").as("n_phones"),
        md5(scrubbed).as("scrub_md5"),
        length(scrubbed).cast("long").as("scrub_len"))
  }

  val textScrubSql: String =
    s"""WITH aug AS (
       |  SELECT doc_id,
       |    text || ' contact user' || doc_id || '@mail.example.com or +1 (555) 010-'
       |      || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0')
       |      || ' via https://ex.example/d/' || doc_id || ' .' AS t
       |  FROM documents),
       | scrub AS (
       |  SELECT doc_id, t,
       |    regexp_replace(regexp_replace(regexp_replace(t,
       |      '$UrlRe', '<URL>', 'g'),
       |      '$EmailRe', '<EMAIL>', 'g'),
       |      '$PhoneRe', '<PHONE>', 'g') AS st
       |  FROM aug)
       |SELECT doc_id,
       |  CAST(len(regexp_extract_all(t, '$UrlRe')) AS BIGINT) AS n_urls,
       |  CAST(len(regexp_extract_all(t, '$EmailRe')) AS BIGINT) AS n_emails,
       |  CAST(len(regexp_extract_all(t, '$PhoneRe')) AS BIGINT) AS n_phones,
       |  md5(st) AS scrub_md5,
       |  CAST(length(st) AS BIGINT) AS scrub_len
       |FROM scrub""".stripMargin

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "text_scrub" -> (textScrub _),
    "text_blocklist" -> (textBlocklist _),
    "text_repetition" -> (textRepetition _),
    "corpus_sample" -> (corpusSample _),
    "corpus_vocab" -> (corpusVocab _),
    "corpus_decontaminate" -> (corpusDecontaminate _),
    "corpus_pack" -> (corpusPack _),
    "corpus_stats" -> (corpusStats _),
    "text_fingerprint" -> (textFingerprint _),
    "text_tokens" -> (textTokens _),
    // rows-only BY DESIGN (no oracles entry): greedy BPE merge encoding is
    // iterative, not SQL-expressible — same posture as knn_ivf_kmeans;
    // correctness pinned by BpeSpec's hand-computed fixtures
    "text_tokens_bpe" -> (textTokensBpe _),
    "text_quality" -> (textQuality _),
    "text_langid" -> (textLangid _),
    "corpus_filter" -> (corpusFilter _),
    "corpus_split" -> (corpusSplit _)
  )

  val oracles: Map[String, String] = Map(
    "text_scrub" -> textScrubSql,
    "text_blocklist" -> textBlocklistSql,
    "text_repetition" -> textRepetitionSql,
    "corpus_sample" -> corpusSampleSql,
    "corpus_vocab" -> corpusVocabSql,
    "corpus_decontaminate" -> corpusDecontaminateSql,
    "corpus_pack" -> corpusPackSql,
    "corpus_stats" -> corpusStatsSql,
    "text_fingerprint" -> textFingerprintSql,
    "text_tokens" -> textTokensSql,
    "text_quality" -> textQualitySql,
    "text_langid" -> textLangidSql,
    "corpus_filter" -> corpusFilterSql,
    "corpus_split" -> corpusSplitSql
  )
}
