package graft

import org.apache.spark.sql.functions._

import graft.queries.TextOps

/** Invariants of the round-7 corpus operators that the driver's hash-compare
  * can't express: packing conservation laws, decontamination set semantics. */
class CorpusOpsSpec extends SparkSpec {

  private val dir = "/root/testdata/sf0.001"

  test("corpus_pack: manifest is a lossless concat-and-chunk of doc_id order") {
    val m = TextOps.corpusPack(spark, dir).cache()
    try {
      val rows = m.orderBy("doc_id").collect()
      // Offsets stay inside a sequence; seq_id is non-decreasing in doc order.
      assert(rows.forall(r => r.getAs[Long]("seq_offset") >= 0 && r.getAs[Long]("seq_offset") < 512))
      val seqIds = rows.map(_.getAs[Long]("seq_id"))
      assert(seqIds.zip(seqIds.tail).forall { case (a, b) => a <= b })
      // Conservation: each doc starts exactly where the previous one ended —
      // the manifest IS the prefix sum (two-level cumsum must equal the
      // single-threaded reference fold).
      var endTok = 0L
      rows.foreach { r =>
        assert(r.getAs[Long]("seq_id") == endTok / 512, s"doc ${r.getAs[Long]("doc_id")}")
        assert(r.getAs[Long]("seq_offset") == endTok % 512, s"doc ${r.getAs[Long]("doc_id")}")
        endTok += r.getAs[Long]("n_tokens")
      }
    } finally { m.unpersist(); () }
  }

  test("corpus_pack: bucket boundaries leave no seam (doc 8191 -> 8192 contiguous)") {
    // sf0.001 has < 8192 docs, so force tiny blocks by checking the math on
    // the real op is unaffected: re-run and diff against a single global
    // cumsum computed driver-side from the token counts.
    val toks = TextOps.corpusPack(spark, dir).orderBy("doc_id")
      .select("doc_id", "n_tokens", "seq_id", "seq_offset").collect()
    var cum = 0L
    toks.foreach { r =>
      assert(r.getLong(2) == cum / 512 && r.getLong(3) == cum % 512)
      cum += r.getLong(1)
    }
  }

  test("corpus_decontaminate: eval docs never flagged; hits bounded by doc shingles") {
    val d = TextOps.corpusDecontaminate(spark, dir).cache()
    try {
      assert(d.filter(col("doc_id") % 97 === 0).count() == 0)
      assert(d.filter(col("n_hits") <= 0).count() == 0)
    } finally { d.unpersist(); () }
  }

  test("text_repetition: counts conserved; one doc recounted by hand matches") {
    val r = TextOps.textRepetition(spark, dir).cache()
    try {
      assert(r.filter(col("max_word_cnt") > col("n_words")).count() == 0)
      assert(r.filter(col("n_distinct_words") > col("n_words")).count() == 0)
      assert(r.filter(col("max_bigram_cnt") > greatest(col("n_words") - 1, lit(0L))).count() == 0)
      val doc = spark.read.parquet(s"$dir/documents.parquet")
        .select("doc_id", "text").orderBy("doc_id").head()
      val ws = doc.getString(1).toLowerCase
        .replaceAll("[^a-z0-9\\s]", " ").trim.split("\\s+").filter(_.nonEmpty)
      val row = r.filter(col("doc_id") === doc.getLong(0)).head()
      assert(row.getAs[Long]("n_words") == ws.length.toLong)
      assert(row.getAs[Long]("n_distinct_words") == ws.distinct.length.toLong)
      assert(row.getAs[Long]("max_word_cnt") ==
        ws.groupBy(identity).values.map(_.size).max.toLong)
      val bigrams = ws.iterator.zip(ws.iterator.drop(1)).map { case (a, b) => a + " " + b }.toSeq
      assert(row.getAs[Long]("max_bigram_cnt") ==
        (if (bigrams.isEmpty) 0L else bigrams.groupBy(identity).values.map(_.size).max.toLong))
    } finally { r.unpersist(); () }
  }

  test("corpus_sample: never upsamples; sources already under target keep every doc") {
    val m = TextOps.corpusSample(spark, dir).cache()
    try {
      assert(m.filter(col("n_docs_kept") > col("n_docs_in")).count() == 0)
      assert(m.filter(col("tokens_kept") > col("tokens_in")).count() == 0)
      val nSrc = m.count()
      val target = m.agg(sum("tokens_in")).head().getLong(0).toDouble / nSrc * 0.5
      assert(
        m.filter(col("tokens_in").cast("double") <= target)
          .filter(col("n_docs_kept") =!= col("n_docs_in")).count() == 0)
    } finally { m.unpersist(); () }
  }

  test("dedup_semantic: every re-ingested near-copy is dropped toward a lower keeper") {
    val d = graft.queries.Dedup.dedupSemantic(spark, dir).cache()
    try {
      assert(d.filter(col("keeper_id") >= col("vec_id")).count() == 0)
      // The staged slice (vec_id%25==0 re-ingested as id+100000, direction
      // preserved) must be caught: same cell as its original, cosine ~1.
      val staged = spark.read.parquet(s"$dir/embeddings.parquet")
        .filter(col("vec_id") % 25 === 0).count()
      val caught = d.filter(col("vec_id") >= 100000L)
      assert(caught.count() == staged)
      assert(caught.filter(col("keeper_id") > col("vec_id") - 100000L).count() == 0)
    } finally { d.unpersist(); () }
  }

  test("corpus_stats: groups partition the corpus; dup-rate bounded") {
    val s2 = TextOps.corpusStats(spark, dir)
    val total = s2.agg(sum("n_docs")).head().getLong(0)
    val nDocs = spark.read.parquet(s"$dir/documents.parquet").count()
    assert(total == nDocs)
    assert(s2.filter(col("n_distinct") > col("n_docs")).count() == 0)
  }

  test("dedup_clusters: label propagation equals a reference union-find on the same pairs") {
    // sf0.01 — sf0.001 has too few docs for minhash collisions to form
    // interesting (multi-edge, transitive) components.
    val d10 = "/root/testdata/sf0.01"
    val pairs = graft.queries.Dedup.dedupMinhash(spark, d10)
      .select("a_id", "b_id").collect().map(r => (r.getLong(0), r.getLong(1)))
    val labels = graft.queries.Dedup.dedupClusters(spark, d10)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // Reference: path-compressed union-find over the collected pairs.
    val parent = scala.collection.mutable.Map.empty[Long, Long]
    def find(x: Long): Long = {
      val p = parent.getOrElseUpdate(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    pairs.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    val expected = parent.keys.map(n => n -> find(n)).toMap
    assert(labels.keySet == expected.keySet)
    // Same components AND the same canonical representative (min id): the
    // union above always parents toward the smaller root, so find() IS the
    // component minimum.
    assert(labels == expected, s"diff=${labels.toSet.diff(expected.toSet).take(5)}")
    // Sanity: the graph actually exercises transitivity at this scale.
    assert(pairs.nonEmpty && labels.values.toSet.size < labels.size)
  }

  test("connectedComponents: adversarial chain converges via pointer-jumping") {
    import spark.implicits._
    // A 60-node path has diameter 59: plain min-label propagation needs 59
    // rounds and would blow the 25-round cap — the pointer jump folded
    // into every round must close it in O(log n) rounds. Gate pinned to 0
    // so the DISTRIBUTED loop runs (the driver union-find would otherwise
    // absorb this graph).
    val n = 60
    val chain = (0L until n - 1).flatMap(i => Seq((i, i + 1), (i + 1, i)))
      .toDF("src", "dst")
    val labels = graft.queries.Dedup.connectedComponents(chain, maxDriverEdges = 0L)
    val got = labels.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    labels.unpersist()
    assert(got.keySet == (0L until n).toSet)
    assert(got.values.forall(_ == 0L), s"all labels must be the component min: $got")
  }

  test("connectedComponents: driver union-find equals the distributed loop") {
    import spark.implicits._
    // Random-ish multi-component graph (deterministic): chains, cliques,
    // singly-linked pairs, and an isolated self-loop, shuffled across ids.
    val edges0 = (
      (0L until 40L by 2).map(i => (i, i + 2)) ++            // even chain
      (for (a <- 101L to 105L; b <- 101L to 105L if a < b) yield (a, b)) ++ // clique
      Seq((200L, 300L), (300L, 400L), (500L, 500L))          // path + self-loop
    )
    def symOf(es: Seq[(Long, Long)]) = es.flatMap { case (a, b) => Seq((a, b), (b, a)) }.toDF("src", "dst")
    def labelsOf(h: org.apache.spark.sql.DataFrame): Map[Long, Long] = {
      val m = h.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      h.unpersist()
      m
    }
    // default gate: 2^20 edges — takes the union-find; gate 0 takes the loop
    def both(es: Seq[(Long, Long)]): (Map[Long, Long], Map[Long, Long]) = {
      val sym = symOf(es)
      (labelsOf(graft.queries.Dedup.connectedComponents(sym)),
        labelsOf(graft.queries.Dedup.connectedComponents(sym, maxDriverEdges = 0L)))
    }
    val (viaDriver, viaLoop) = both(edges0)
    assert(viaDriver == viaLoop)
    assert(viaDriver(40L) == 0L && viaDriver(105L) == 101L && viaDriver(400L) == 200L
      && viaDriver(500L) == 500L)
    // Graphs one node below each resize threshold of the union-find's
    // HashMap (capacity 16, 32, ... at load factor 0.75), shaped like the
    // collapsed clusters input: pair edges (a chain of n-1 nodes), then one
    // self-edge per node, the last node isolated. The trailing self-edges
    // insert nodes without updating the map, so the first path-compression
    // update while collecting the labels used to regrow it mid-walk and
    // drop nodes from the output.
    Seq(11, 23, 47, 95, 191).foreach { n =>
      val nodes = 1000L until 1000L + n
      val chain = (1000L until 1000L + n - 2).map(i => (i, i + 1))
      val (d, l) = both(chain ++ nodes.map(i => (i, i)))
      assert(d.keySet == nodes.toSet, s"n=$n: unlabeled nodes in the driver result")
      assert(d == l, s"n=$n: driver union-find differs from the loop")
      assert(d == nodes.map(i => i -> (if (i == nodes.last) i else 1000L)).toMap, s"n=$n")
    }
  }

  test("connectedComponents: string node ids fail loudly at the boundary") {
    import spark.implicits._
    // cast("long") over string doc_ids would yield nulls and NPE deep in
    // the union-find — the guard must throw a named message instead.
    val edges = Seq(("doc-a", "doc-b"), ("doc-b", "doc-a")).toDF("src", "dst")
    val e = intercept[IllegalArgumentException](
      graft.queries.Dedup.connectedComponents(edges))
    assert(e.getMessage.contains("numeric node ids") && e.getMessage.contains("src"))
  }
}
