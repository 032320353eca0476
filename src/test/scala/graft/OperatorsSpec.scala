package graft

import graft.operators.{Dedup, Enrich, Multimodal, Similarity}
import org.apache.spark.sql.functions._

/** Dedup / similarity / enrich / multimodal operator behavior on small
  * constructed fixtures with known answers. */
class OperatorsSpec extends SparkSpec {
  import spark.implicits._

  private val docs = Seq(
    (1L, "the quick brown fox jumps over the lazy dog near the river bank today"),
    (2L, "the quick brown fox jumps over the lazy dog near the river bank today"), // exact dup of 1
    (3L, "the quick brown fox jumps over the lazy dog near the river bank tomorrow"), // near dup of 1
    (4L, "completely unrelated text about cooking pasta with tomatoes and basil leaves"),
    (5L, "THE  QUICK  BROWN  FOX jumps over the lazy dog near the river bank today")) // normalized dup of 1
    .toDF("doc_id", "text")

  test("exactGroups/exactDedup: normalized duplicates collapse to min id") {
    val groups = Dedup.exactGroups(docs, "doc_id", "text").collect()
    assert(groups.length == 3) // {1,2,5}, {3}, {4}
    val big = groups.find(_.getAs[Long]("n_dupes") == 3L).get
    assert(big.getAs[Long]("keep_id") == 1L)
    val kept = Dedup.exactDedup(docs, "doc_id", "text")
      .select("doc_id").as[Long].collect().sorted
    assert(kept.toSeq == Seq(1L, 3L, 4L))
  }

  test("minhashPairs: finds exact and near dup, not the unrelated doc") {
    val pairs = Dedup.minhashPairs(docs, "doc_id", "text",
      shingleSize = 2, bands = 16, rowsPerBand = 4, threshold = 0.5)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(pairs.contains((1L, 2L)))
    assert(pairs.contains((1L, 5L)))
    assert(pairs.contains((1L, 3L))) // near dup above 0.5 jaccard
    assert(!pairs.exists(p => p._1 == 4L || p._2 == 4L))
  }

  test("minhashDedup keeps the lowest id of each near-dup cluster") {
    val kept = Dedup.minhashDedup(docs, "doc_id", "text",
      shingleSize = 2, bands = 16, rowsPerBand = 4, threshold = 0.5)
      .select("doc_id").as[Long].collect().sorted
    assert(kept.toSeq == Seq(1L, 4L)) // 2,3,5 are (near-)dups of 1
  }

  test("withJaccard computes exact set jaccard") {
    val pairs = Seq((1L, 2L), (1L, 4L)).toDF("id_a", "id_b")
    val j = Dedup.withJaccard(pairs, docs, "doc_id", "text", 2)
      .orderBy("id_b").select("jaccard").as[Double].collect()
    assert(j(0) == 1.0)
    assert(j(1) < 0.2)
  }

  test("incrementalDedup: exact/near dups of corpus dropped, fresh doc kept") {
    val corpus = Seq(
      (1L, "the quick brown fox jumps over the lazy dog again and again"),
      (2L, "completely different text about spark engines and shuffles"))
      .toDF("doc_id", "text")
    val newDocs = Seq(
      (10L, "the quick brown fox jumps over the lazy dog again and again"),
      (11L, "the quick brown fox jumps over the lazy dog again and again extra"),
      (12L, "utterly unrelated fresh content with entirely novel words here"))
      .toDF("doc_id", "text")
    val kept = Dedup.incrementalDedup(newDocs, corpus, "doc_id", "text",
      shingleSize = 2, bands = 16, rowsPerBand = 4, threshold = 0.5)
      .select("doc_id").as[Long].collect().sorted
    assert(kept.toSeq == Seq(12L))
  }

  test("incrementalDedupFromIndex: materialized index matches direct incrementalDedup") {
    val corpus = Seq(
      (1L, "the quick brown fox jumps over the lazy dog again and again"),
      (2L, "completely different text about spark engines and shuffles"))
      .toDF("doc_id", "text")
    val newDocs = Seq(
      (10L, "the quick brown fox jumps over the lazy dog again and again"),
      (11L, "the quick brown fox jumps over the lazy dog again and again extra"),
      (12L, "utterly unrelated fresh content with entirely novel words here"))
      .toDF("doc_id", "text")
    val idx = java.nio.file.Files.createTempDirectory("graft_test_idx").toString
    Dedup.writeDedupIndex(corpus, idx, "doc_id", "text",
      shingleSize = 2, bands = 16, rowsPerBand = 4)
    val direct = Dedup.incrementalDedup(newDocs, corpus, "doc_id", "text",
      shingleSize = 2, bands = 16, rowsPerBand = 4, threshold = 0.5)
      .select("doc_id").as[Long].collect().sorted
    val viaIndex = Dedup.incrementalDedupFromIndex(spark, idx, newDocs,
      "doc_id", "text", shingleSize = 2, bands = 16, rowsPerBand = 4,
      threshold = 0.5)
      .select("doc_id").as[Long].collect().sorted
    assert(viaIndex.toSeq == direct.toSeq && viaIndex.toSeq == Seq(12L))
  }

  test("paragraphDedup: repeated paragraphs survive only at first (doc,pos); all-dup doc disappears") {
    val docs = Seq(
      (1L, "unique intro one\n\nshared license text\n\nunique tail one"),
      (2L, "unique intro two\n\nshared license text\n\nunique tail two"),
      (3L, "shared license text")) // nothing but the repeat — drops entirely
      .toDF("doc_id", "text")
    val out = Dedup.paragraphDedup(docs, "doc_id", "text")
      .orderBy("doc_id")
      .as[(Long, String)].collect().toSeq
    assert(out == Seq(
      (1L, "unique intro one\n\nshared license text\n\nunique tail one"),
      (2L, "unique intro two\n\nunique tail two")))
  }

  test("int8TopK: self is rank 1 with exact integer self-dot") {
    val vecs = Seq(
      (0L, Array(1.0f, -2.0f, 0.5f)),
      (1L, Array(0.1f, 0.2f, 0.3f)),
      (2L, Array(-1.0f, 2.0f, -0.5f))) // antipode of 0
      .toDF("vec_id", "embedding")
    val q = vecs.filter(col("vec_id") === 0L)
      .select(col("vec_id").as("query_id"), col("embedding"))
    val rows = Similarity.int8TopK(vecs, q, k = 3)
      .orderBy("rank")
      .as[(Long, Int, Long, Long)].collect().toSeq
    // quantized [1,-2,.5]/2*127 = [64,-127,32] (round half-up); self dot
    // = 64² + 127² + 32² = 21249; the antipode scores the exact negative
    assert(rows.head == (0L, 1, 0L, 21249L))
    assert(rows.last == (0L, 3, 2L, -21249L))
  }

  test("containmentPairs: embedded doc scores 1.0 where Jaccard would miss it") {
    val base = (1 to 40).map(i => s"tok$i").mkString(" ")
    val docs = Seq(
      (1L, base),                                   // short doc
      (2L, base + " " + (100 to 160).map(i => s"pad$i").mkString(" ")), // superset
      (3L, "entirely different words " + (200 to 240).map(i => s"z$i").mkString(" ")))
      .toDF("doc_id", "text")
    val pairs = Dedup.containmentPairs(docs, "doc_id", "text",
      shingleSize = 3, threshold = 0.9)
      .as[(Long, Long, Double)].collect().toSeq
    assert(pairs.map(p => (p._1, p._2)) == Seq((1L, 2L)))
    assert(pairs.head._3 == 1.0) // every shingle of 1 appears in 2
    // sanity: the same pair fails a 0.9 Jaccard bar (sizes differ ~2.5×)
    val j = Dedup.ngramJaccardPairs(docs, "doc_id", "text",
      shingleSize = 3, threshold = 0.9).count()
    assert(j == 0)
  }

  test("winnowingPairs: a shared contiguous run pairs up; disjoint docs never do") {
    val run = (1 to 20).map(i => s"run$i").mkString(" ")
    val docs = Seq(
      (1L, s"alpha beta gamma $run delta epsilon"),
      (2L, s"zeta eta theta $run iota kappa"),  // same 20-token run embedded
      (3L, "entirely different content with no overlap at all here today"))
      .toDF("doc_id", "text")
    val pairs = Dedup.winnowingPairs(docs, "doc_id", "text",
      shingleSize = 3, window = 4, minShared = 2)
      .as[(Long, Long, Long)].collect().toSeq
    assert(pairs.map(p => (p._1, p._2)) == Seq((1L, 2L)))
    // winnowing guarantee: a shared run of >= window+shingle-1 tokens
    // must yield shared prints — 20 >> 6, so several
    assert(pairs.head._3 >= 2)
  }

  test("substringSpans: planted verbatim runs detected, merged, short runs dropped") {
    // doc 1 is a 100-token sequence x0..x99; the others embed verbatim
    // slices of it between unique filler. k=3, minRun=6 ⇒ spans need
    // ≥ 8 shared tokens.
    val xs = (0 until 100).map(i => s"x$i")
    def toks(pre: String, slice: Seq[String], post: String) =
      ((0 until 10).map(i => s"$pre$i") ++ slice ++
        (0 until 10).map(i => s"$post$i")).mkString(" ")
    val fix = Seq(
      (1L, xs.mkString(" ")),
      (2L, toks("y", xs.slice(40, 50), "z")), // 10 shared tokens
      (3L, toks("p", xs.slice(20, 32), "q")), // 12 shared tokens
      (4L, toks("r", xs.slice(28, 40), "s")), // 12, overlaps doc 3's slice
      (5L, toks("g", xs.slice(60, 67), "h"))) // 7 < 8 — below threshold
      .toDF("doc_id", "text")
    val got = Dedup.substringSpans(fix, "doc_id", "text",
        shingleSize = 3, minRun = 6)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    // doc 1: [20,32)∪[28,40) overlap and [40,50) is adjacent → one
    // merged span [20,50); docs 3/4 share only 4 tokens of doc 1 with
    // each other (2 shingles < minRun) so no cross-span; doc 5 absent.
    assert(got == Set(
      (1L, 20L, 50L),
      (2L, 10L, 20L),
      (3L, 10L, 22L),
      (4L, 10L, 22L)), s"unexpected spans: $got")
  }

  test("substringSpans keepFirst + applySpans: dup substring cut everywhere but lowest id") {
    val xs = (0 until 100).map(i => s"x$i")
    def toks(pre: String, slice: Seq[String], post: String) =
      ((0 until 10).map(i => s"$pre$i") ++ slice ++
        (0 until 10).map(i => s"$post$i")).mkString(" ")
    val fix = Seq(
      (1L, xs.mkString(" ")),
      (2L, toks("y", xs.slice(40, 50), "z")),
      (5L, toks("g", xs.slice(60, 67), "h"))) // below threshold — untouched
      .toDF("doc_id", "text")
    val spans = Dedup.substringSpans(fix, "doc_id", "text",
      shingleSize = 3, minRun = 6, keepFirst = true)
    // only doc 2 (the higher id of the (1,2) pair) is flagged
    assert(spans.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      .toSet == Set((2L, 10L, 20L)))
    val cleaned = Dedup.applySpans(fix, spans, "doc_id", "text")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2),
        r.getLong(3))).toList.sortBy(_._1)
    val doc2Clean = ((0 until 10).map(i => s"y$i") ++
      (0 until 10).map(i => s"z$i")).mkString(" ")
    assert(cleaned.map(c => (c._1, c._3, c._4)) ==
      List((1L, 100L, 0L), (2L, 30L, 10L), (5L, 27L, 0L)))
    assert(cleaned(1)._2 == doc2Clean)
    assert(cleaned(0)._2 == xs.mkString(" ")) // canonical occurrence kept
  }

  test("substringSpansFromIndex: batch spans vs materialized corpus index") {
    val xs = (0 until 100).map(i => s"x$i")
    def toks(pre: String, slice: Seq[String], post: String) =
      ((0 until 10).map(i => s"$pre$i") ++ slice ++
        (0 until 10).map(i => s"$post$i")).mkString(" ")
    val corpus = Seq((1L, xs.mkString(" "))).toDF("doc_id", "text")
    val batch = Seq(
      (12L, toks("y", xs.slice(40, 50), "z")),  // 10 shared tokens
      (13L, toks("p", xs.slice(20, 32), "q")),  // 12 shared tokens
      (14L, toks("g", xs.slice(60, 67), "h")),  // 7 < 8 — below threshold
      (15L, (0 until 30).map(i => s"f$i").mkString(" "))) // fresh
      .toDF("doc_id", "text")
    val path = java.nio.file.Files
      .createTempDirectory("graft_substr_test_").toString
    Dedup.writeSubstrIndex(corpus, path, "doc_id", "text", shingleSize = 3)
    val got = Dedup.substringSpansFromIndex(spark, path, batch,
        "doc_id", "text", shingleSize = 3, minRun = 6)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(got == Set((12L, 10L, 20L), (13L, 10L, 22L)), s"got $got")
  }

  test("crossCorpusSpans: probe runs vs ad-hoc corpus; corpus docs never flagged") {
    val xs = (0 until 100).map(i => s"x$i")
    def toks(pre: String, slice: Seq[String], post: String) =
      ((0 until 10).map(i => s"$pre$i") ++ slice ++
        (0 until 10).map(i => s"$post$i")).mkString(" ")
    val bench = Seq((1L, xs.mkString(" "))).toDF("doc_id", "text")
    val train = Seq(
      (12L, toks("y", xs.slice(40, 50), "z")),
      (13L, xs.slice(10, 40).mkString(" ")),   // pure benchmark slice
      (14L, (0 until 30).map(i => s"f$i").mkString(" ")))
      .toDF("doc_id", "text")
    val spans = Dedup.crossCorpusSpans(train, bench, "doc_id", "text",
      shingleSize = 3, minRun = 6)
    val got = spans.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(got == Set((12L, 10L, 20L), (13L, 0L, 30L)), s"got $got")
    // scrub: doc 13 empties, doc 14 passes through byte-identical
    val cleaned = Dedup.applySpans(train, spans, "doc_id", "text")
      .collect().map(r => (r.getLong(0), r.getString(1))).toMap
    assert(cleaned(13L) == "")
    assert(cleaned(14L) == (0 until 30).map(i => s"f$i").mkString(" "))
  }

  test("hardNegatives: only other-cluster vectors, ranked by cosine") {
    // cluster 0 hugs the x-axis, cluster 1 the y-axis; the query sits in
    // cluster 0, so its hard negatives must all come from cluster 1,
    // nearest-angle first
    val corpus = Seq(
      (1L, Array(1.0f, 0.0f)),   // query, cell 0
      (2L, Array(0.9f, 0.1f)),   // cell 0 — excluded however similar
      (3L, Array(0.1f, 0.9f)),   // cell 1 — the closest hard negative
      (4L, Array(0.0f, 1.0f)),   // cell 1 — orthogonal, ranks after 3
      (5L, Array(-0.2f, 0.9f)))  // cell 1 — negative cosine, last
      .toDF("vec_id", "embedding")
    val cents = Seq((0L, Array(1.0f, 0.0f)), (1L, Array(0.0f, 1.0f)))
      .toDF("centroid_id", "embedding")
    val cells = Similarity.assignToCentroids(corpus, cents)
      .select("vec_id", "centroid_id")
    val q = corpus.filter($"vec_id" === 1L)
      .select($"vec_id".as("query_id"), $"embedding")
    val got = Similarity.hardNegatives(corpus, q, cells, k = 10)
      .orderBy("rank").collect().map(r => (r.getInt(1), r.getLong(2)))
    assert(got.toList == List((1, 3L), (2, 4L), (3, 5L)), got.toList)
  }

  test("minhashEstimatePairs: exact dup estimates 1.0; unrelated doc absent") {
    val pairs = Dedup.minhashEstimatePairs(docs, "doc_id", "text",
      shingleSize = 3, k = 16, minEstimate = 0.5)
      .as[(Long, Long, Double)].collect().toSeq.sortBy(p => (p._1, p._2))
    // docs 1 and 2 are identical -> every signature component matches
    assert(pairs.exists(p => p._1 == 1L && p._2 == 2L && p._3 == 1.0))
    // doc 4 (unrelated) shares no shingles, so it never becomes a candidate
    assert(!pairs.exists(p => p._1 == 4L || p._2 == 4L))
  }

  test("bestOfCluster: higher score wins over lower id; ties fall back to min id") {
    val memb = Seq(
      (10L, 1L, 0.4), (10L, 2L, 0.9),            // higher score, HIGHER id wins
      (20L, 5L, 0.7), (20L, 6L, 0.7), (20L, 7L, 0.1)) // score tie -> min id
      .toDF("cluster_id", "doc_id", "quality")
    val out = Dedup.bestOfCluster(memb, "cluster_id", "doc_id", "quality")
      .orderBy("cluster_id")
      .as[(Long, Long, Long, Double)].collect().toSeq
    assert(out == Seq((10L, 2L, 2L, 0.9), (20L, 5L, 3L, 0.7)))
  }

  test("crossCorpusOverlap counts shared distinct shingles above the floor") {
    val bench = Seq((100L, "alpha beta gamma delta epsilon")).toDF("doc_id", "text")
    val train = Seq(
      (1L, "x alpha beta gamma delta y"), // shares 2 tri-shingles
      (2L, "nothing in common at all zz"))
      .toDF("doc_id", "text")
    val hits = Dedup.crossCorpusOverlap(train, bench, "doc_id", "text",
      shingleSize = 3, minShared = 2)
      .collect().map(r => (r.getAs[Long]("train_id"), r.getAs[Long]("bench_id"),
        r.getAs[Long]("n_shared")))
    assert(hits.toSeq == Seq((1L, 100L, 2L)))
  }

  test("crossCorpusNearDups: cross-side pairs only, exact-Jaccard verified") {
    val bench = Seq(
      (100L, "alpha beta gamma delta epsilon zeta eta theta"),
      (101L, "one two three four five six seven eight"))
      .toDF("doc_id", "text")
    val train = Seq(
      (1L, "alpha beta gamma delta epsilon zeta eta theta"), // exact copy of 100
      (2L, "alpha beta gamma delta epsilon zeta eta thetaX"), // near 100
      (3L, "alpha beta gamma delta epsilon zeta eta thetaX"), // near 100 AND copy of 2
      (4L, "totally unrelated words with zero overlap here"))
      .toDF("doc_id", "text")
    val pairs = Dedup.crossCorpusNearDups(train, bench, "doc_id", "text",
        shingleSize = 3, bands = 16, rowsPerBand = 4, threshold = 0.5)
      .collect()
      .map(r => (r.getAs[Long]("train_id"), r.getAs[Long]("bench_id"),
        r.getAs[Double]("jaccard"))).sortBy(t => (t._1, t._2))
    // 1↔100 exact (J=1); 2↔100 and 3↔100 near (5/7 shared tri-shingles);
    // the WITHIN-side dup pair (2,3) must NOT appear, nor anything for 4/101
    assert(pairs.map(t => (t._1, t._2)).toSeq ==
      Seq((1L, 100L), (2L, 100L), (3L, 100L)), pairs.toSeq)
    assert(pairs.head._3 == 1.0)
    assert(math.abs(pairs(1)._3 - 5.0 / 7.0) < 1e-12, pairs(1))
  }

  test("bestMotif: exact pattern occurrence scores distance 0 at the right offset") {
    import graft.operators.TimeSeries
    def ts(i: Int) = new java.sql.Timestamp(1700000000000L + i * 60000L)
    // key 1: values 9,1,2,3,4,5,9 — window [1..5] at start 1 matches the
    // pattern shape exactly (z-normalized); key 2: constant series (std=0
    // windows) must still return a best row, not crash
    val rows = Seq(9.0, 1.0, 2.0, 3.0, 4.0, 5.0, 9.0).zipWithIndex
      .map { case (v, i) => (1L, ts(i), i.toLong, v) } ++
      (0 until 6).map(i => (2L, ts(i), (100 + i).toLong, 7.0))
    val df = rows.toDF("user_id", "ts", "event_id", "value")
    val best = TimeSeries.bestMotif(df, "user_id", "ts", "event_id", "value",
      pattern = Seq(1.0, 2.0, 3.0, 4.0, 5.0), m = 5)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getDouble(2))).toMap
    assert(best(1L)._1 == 1L)
    assert(math.abs(best(1L)._2) < 1e-12)
    assert(best(2L)._1 == 0L) // ties (all-equal windows) -> earliest start
  }

  test("bestMotif: a key past maxPointsPerKey fails fast with a clear error") {
    import graft.operators.TimeSeries
    def ts(i: Int) = new java.sql.Timestamp(1700000000000L + i * 60000L)
    val rows = (0 until 50).map(i => (1L, ts(i), i.toLong, i.toDouble))
    val df = rows.toDF("user_id", "ts", "event_id", "value")
    val ex = intercept[Exception] {
      TimeSeries.bestMotif(df, "user_id", "ts", "event_id", "value",
        pattern = Seq(1.0, 2.0, 3.0), m = 3, maxPointsPerKey = 10).collect()
    }
    def messages(t: Throwable): Seq[String] =
      Option(t).toSeq.flatMap(e => Option(e.getMessage).toSeq ++ messages(e.getCause))
    assert(messages(ex).exists(_.contains("maxPointsPerKey")),
      s"unexpected error: $ex")
    // and the bound itself must admit the window
    intercept[IllegalArgumentException] {
      TimeSeries.bestMotif(df, "user_id", "ts", "event_id", "value",
        pattern = Seq(1.0, 2.0, 3.0), m = 3, maxPointsPerKey = 2)
    }
  }

  test("simhashPairs: exact dups at hamming 0; unrelated doc excluded") {
    val pairs = Dedup.simhashPairs(docs, "doc_id", "text", maxHamming = 3)
      .collect().map(r => (r.getAs[Long]("id_a"), r.getAs[Long]("id_b"),
        r.getAs[Int]("hamming")))
    val p12 = pairs.find(p => p._1 == 1L && p._2 == 2L)
    assert(p12.nonEmpty && p12.get._3 == 0)
    assert(!pairs.exists(p => p._1 == 4L || p._2 == 4L))
  }

  test("embeddingPairs: scaled copy found at cosine ~1") {
    val embs = Seq(
      (1L, Array.tabulate(16)(i => math.sin(i + 1).toFloat)),
      (2L, Array.tabulate(16)(i => (math.sin(i + 1) * 0.9).toFloat)),
      (3L, Array.tabulate(16)(i => math.cos(3 * i + 2).toFloat)))
      .toDF("vec_id", "embedding")
    val pairs = Dedup.embeddingPairs(embs, "vec_id", "embedding",
      minCosine = 0.99, bits = 8, bands = 4)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(pairs.contains((1L, 2L)))
    assert(!pairs.exists(p => p._1 == 3L || p._2 == 3L))
  }

  test("bruteForceTopK: self is rank 1, k respected, descending cosine") {
    val e = Tables().embeddings
    val q = e.filter(col("vec_id") < 3)
      .select(col("vec_id").as("query_id"), col("embedding"))
    val top = Similarity.bruteForceTopK(e, q, k = 5).collect()
    assert(top.length == 15)
    val byQ = top.groupBy(_.getAs[Long]("query_id"))
    byQ.foreach { case (qid, rows) =>
      val sorted = rows.sortBy(_.getAs[Int]("rank"))
      assert(sorted.head.getAs[Long]("vec_id") == qid) // self first
      assert(math.abs(sorted.head.getAs[Double]("cosine") - 1.0) < 1e-9)
      val cosines = sorted.map(_.getAs[Double]("cosine")).toSeq
      assert(cosines == cosines.sortBy(-_))
    }
  }

  test("lshTopK results are a subset of brute-force ranking universe") {
    val e = Tables().embeddings
    val q = e.filter(col("vec_id") < 3)
      .select(col("vec_id").as("query_id"), col("embedding"))
    val lsh = Similarity.lshTopK(e, q, k = 5, bits = 6, bands = 4).collect()
    assert(lsh.nonEmpty)
    // every (query, id, cosine) in LSH output must equal the exact cosine
    val brute = Similarity.bruteForceTopK(e, q, k = 1000).collect()
      .map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("vec_id")) ->
        r.getAs[Double]("cosine")).toMap
    lsh.foreach { r =>
      val key = (r.getAs[Long]("query_id"), r.getAs[Long]("vec_id"))
      assert(math.abs(brute(key) - r.getAs[Double]("cosine")) < 1e-12)
    }
  }

  test("ivfTopK: self found at rank 1; cosines exact") {
    val e = Tables().embeddings
    val q = e.filter(col("vec_id") < 3)
      .select(col("vec_id").as("query_id"), col("embedding"))
    val centroids = Similarity.kmeansCentroids(e, k = 4, iters = 2)
    assert(centroids.count() == 4)
    val ivf = Similarity.ivfTopK(e, q, centroids, k = 5, nprobe = 2).collect()
    assert(ivf.nonEmpty)
    val byQ = ivf.groupBy(_.getAs[Long]("query_id"))
    byQ.foreach { case (qid, rows) =>
      val first = rows.minBy(_.getAs[Int]("rank"))
      // the query vector itself lives in the probed cell → rank 1, cos 1
      assert(first.getAs[Long]("vec_id") == qid)
      assert(math.abs(first.getAs[Double]("cosine") - 1.0) < 1e-9)
    }
  }

  test("minhash bucket cap drops degenerate buckets") {
    // 60 identical docs: every band bucket holds all 60 → capped away
    val degenerate = (1L to 60L)
      .map(i => (i, "the same boilerplate text repeated in every document here"))
      .toDF("doc_id", "text")
    val capped = Dedup.minhashCandidates(degenerate, "doc_id", "text",
      shingleSize = 2, bands = 16, rowsPerBand = 4, maxBucketSize = 10)
    assert(capped.count() == 0)
    val uncapped = Dedup.minhashCandidates(degenerate, "doc_id", "text",
      shingleSize = 2, bands = 16, rowsPerBand = 4, maxBucketSize = 1000)
    assert(uncapped.count() == 60L * 59 / 2)
  }

  test("simhashPairs: 10k identical docs complete with capped (zero) pair count") {
    // every doc has the same fingerprint, so all four 16-bit chunk buckets
    // hold 10k entries — uncapped, the self-join would build ~2×10^8 pairs.
    // With the cap the oversized buckets are dropped (identical docs are
    // exact-dedup's job) and the query completes with no pairs.
    val many = spark.range(1, 10001)
      .select(col("id").as("doc_id"),
        lit("the same boilerplate paragraph stamped on every page").as("text"))
    val pairs = Dedup.simhashPairs(many, "doc_id", "text",
      maxHamming = 3, maxBucketSize = 1000)
    assert(pairs.count() == 0)
    // sanity: same corpus under the cap still pairs fully
    val few = spark.range(1, 21)
      .select(col("id").as("doc_id"),
        lit("the same boilerplate paragraph stamped on every page").as("text"))
    assert(Dedup.simhashPairs(few, "doc_id", "text",
      maxHamming = 3, maxBucketSize = 1000).count() == 20L * 19 / 2)
  }

  test("embeddingPairs: degenerate signature buckets are capped") {
    val vec = Array.fill(8)(1.0f)
    val many = spark.range(1, 5001)
      .select(col("id").as("vec_id"),
        typedLit(vec.toSeq).cast("array<float>").as("embedding"))
    val capped = Dedup.embeddingPairs(many, "vec_id", "embedding",
      minCosine = 0.9, bits = 8, bands = 2, maxBucketSize = 1000)
    assert(capped.count() == 0)
    val few = spark.range(1, 11)
      .select(col("id").as("vec_id"),
        typedLit(vec.toSeq).cast("array<float>").as("embedding"))
    assert(Dedup.embeddingPairs(few, "vec_id", "embedding",
      minCosine = 0.9, bits = 8, bands = 2, maxBucketSize = 1000)
      .count() == 10L * 9 / 2)
  }

  test("IVF index on disk: partition-pruned probe matches in-memory IVF") {
    val e = Tables().embeddings
    val q = e.filter(col("vec_id") < 3)
      .select(col("vec_id").as("query_id"), col("embedding"))
    val centroids = Similarity.kmeansCentroids(e, k = 4, iters = 2)
    val path = java.nio.file.Files.createTempDirectory("graft_ivf").toString + "/idx"
    Similarity.writeIvfIndex(e, centroids, path)

    val fromIndex = Similarity.ivfTopKFromIndex(spark, path, q, centroids,
      k = 5, nprobe = 2)
    // pruning visible in the plan
    val plan = fromIndex.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters: [centroid_id"), plan)
    // same results as the non-materialized path
    val inMem = Similarity.ivfTopK(e, q, centroids, k = 5, nprobe = 2)
      .collect().map(r => (r.getLong(0), r.getInt(1)) -> r.getLong(2)).toMap
    fromIndex.collect().foreach { r =>
      assert(inMem((r.getLong(0), r.getInt(1))) == r.getLong(2))
    }
  }

  test("appendToIvfIndex: append-then-probe equals scratch rebuild on the grown corpus") {
    val e = Tables().embeddings
    val base = e.filter(pmod(col("vec_id"), lit(5L)) =!= 0L)
    val batch = e.filter(pmod(col("vec_id"), lit(5L)) === 0L)
    val centroids = Similarity.kmeansCentroids(base, k = 4, iters = 2)
    val q = e.filter(col("vec_id") < 3)
      .select(col("vec_id").as("query_id"), col("embedding"))
    val tmp = java.nio.file.Files.createTempDirectory("graft_ivf_app").toString

    // grown incrementally: base written, batch appended w/o recluster
    val appended = tmp + "/appended"
    Similarity.writeIvfIndex(base, centroids, appended)
    val drift = Similarity.appendToIvfIndex(batch, centroids, appended)
      .collect()
    // drift frame covers exactly the appended rows
    assert(drift.map(_.getAs[Long]("n_appended")).sum == batch.count())
    drift.foreach(r =>
      assert(r.getAs[Double]("mean_assign_cos") <= 1.0 + 1e-9))

    // rebuilt from scratch over the SAME grown corpus + quantizer
    val rebuilt = tmp + "/rebuilt"
    Similarity.writeIvfIndex(e, centroids, rebuilt)

    def probe(path: String) =
      Similarity.ivfTopKFromIndex(spark, path, q, centroids, k = 5, nprobe = 2)
        .collect()
        .map(r => (r.getLong(0), r.getInt(1)) ->
          (r.getLong(2), r.getAs[Double]("cosine"))).toMap
    val a = probe(appended)
    val b = probe(rebuilt)
    assert(a == b, s"append/rebuild probe diverged: $a vs $b")
    // batch members are findable: vec_id 0 queries itself at rank 1
    assert(a((0L, 1))._1 == 0L)
  }

  test("reclusterIvfIndex: post-swap probe equals from-scratch build; swap dirs cleaned") {
    val e = Tables().embeddings
    val base = e.filter(pmod(col("vec_id"), lit(5L)) =!= 0L)
    val batch = e.filter(pmod(col("vec_id"), lit(5L)) === 0L)
    val baseCents = Similarity.kmeansCentroids(base, k = 4, iters = 2)
    val q = e.filter(col("vec_id") < 3)
      .select(col("vec_id").as("query_id"), col("embedding"))
    val tmp = java.nio.file.Files.createTempDirectory("graft_ivf_rc").toString

    // live index grown incrementally, then drift → re-cluster-and-swap
    val live = tmp + "/live"
    Similarity.writeIvfIndex(base, baseCents, live)
    Similarity.appendToIvfIndex(batch, baseCents, live)
    val newCents = Similarity.reclusterIvfIndex(spark, live)

    // from-scratch build over the same grown corpus at the same k
    val scratch = tmp + "/scratch"
    val scratchCents = Similarity.kmeansCentroids(
      e, k = Similarity.autoK(e.count()), iters = 2)
    Similarity.writeIvfIndex(e, scratchCents, scratch)

    def probe(path: String, cents: org.apache.spark.sql.DataFrame) =
      Similarity.ivfTopKFromIndex(spark, path, q, cents, k = 5, nprobe = 2)
        .collect()
        .map(r => (r.getLong(0), r.getInt(1)) ->
          (r.getLong(2), r.getAs[Double]("cosine"))).toMap
    val a = probe(live, newCents)
    val b = probe(scratch, scratchCents)
    assert(a == b, s"post-swap/from-scratch probe diverged: $a vs $b")

    // the rename protocol leaves no staging or moved-aside directory
    assert(!new java.io.File(live + "_recluster_tmp").exists)
    assert(!new java.io.File(live + "_recluster_old").exists)
  }

  test("hotelsCount: manual fixture counts") {
    val df = Seq(
      ("2020-01-01", "2020-01-03", 100L), // Short
      ("2020-01-01", "2020-01-03", 100L), // Short (same hotel)
      ("2020-01-01", "2020-01-03", 200L), // Short (other hotel)
      ("2020-01-01", "2020-01-08", 300L), // Standard
      ("bad", "2020-01-08", 400L))        // Erroneous
      .toDF("srch_ci", "srch_co", "hotel_id")
    val enriched = Enrich.withStayCategory(df, "srch_ci", "srch_co")
    val agg = Enrich.hotelsCount(enriched, "hotel_id")
      .collect().map(r => r.getAs[String]("stay_category") ->
        (r.getAs[Long]("hotels_amount"), r.getAs[Long]("distinct_hotels"))).toMap
    assert(agg("Short stay") == (3L, 2L))
    assert(agg("Standard stay") == (1L, 1L))
    assert(agg("Erroneous data") == (1L, 1L))
  }

  test("maskField and nullGuard") {
    val df = Seq(Some("2020-01-01 10:00:00"), None).toDF("date_time")
    assert(Enrich.maskField(df, "date_time").select("date_time")
      .as[String].collect().toSet == Set("0000-00-00 00:00:00"))
    assert(Enrich.nullGuard(df, "date_time").count() == 1)
  }

  test("multimodal: feature shape, determinism, frame sampling") {
    implicit val s: org.apache.spark.sql.SparkSession = spark
    val media = Multimodal.syntheticMedia(
      Tables().documents.limit(30), "doc_id", "text")
      .as[Multimodal.MediaRecord]
    val feats = Multimodal.extractFeatures(media, dim = 8).collect()
    assert(feats.length == 30)
    assert(feats.forall(_.feature.length == 8))
    assert(feats.forall(f => f.feature.forall(v => v >= -1f && v <= 1f)))
    val again = Multimodal.extractFeatures(media, dim = 8).collect()
    assert(feats.sortBy(_.media_id).zip(again.sortBy(_.media_id))
      .forall { case (a, b) => a.checksum == b.checksum && a.feature.sameElements(b.feature) })
    val frames = Multimodal.sampleFrames(media.toDF(), 3)
    val videos = media.filter(_.kind == "video").count()
    assert(frames.count() == videos * 3)
    // per-frame features: one row per (video, frame), frame-dependent
    val ff = Multimodal.extractFrameFeatures(media, framesPerVideo = 2, dim = 4)
      .collect()
    assert(ff.length == videos * 2)
    val byMedia = ff.groupBy(_.getAs[Long]("media_id"))
    byMedia.values.foreach { rows =>
      val f0 = rows.find(_.getAs[Int]("frame_no") == 0).get.getSeq[Float](2)
      val f1 = rows.find(_.getAs[Int]("frame_no") == 1).get.getSeq[Float](2)
      assert(f0 != f1) // frame content varies the feature
    }
  }

  test("multimodal headers: parser reads hand-assembled literal bytes") {
    // a minimal baseline JPEG assembled BYTE BY BYTE (not via buildJpeg),
    // pinning the marker constants independently: SOI, APP0(JFIF),
    // SOF0 with height=48 width=64, SOS, EOI
    val jpeg: Array[Byte] = (
      Seq(0xff, 0xd8,
        0xff, 0xe0, 0x00, 0x10) ++ "JFIF".getBytes("US-ASCII").map(_ & 0xff) ++
      Seq(0x00, 0x01, 0x01, 0x00, 0x00, 0x01, 0x00, 0x01, 0x00, 0x00,
        0xff, 0xc0, 0x00, 0x11, 0x08, 0x00, 0x30, 0x00, 0x40, 0x03,
        0x01, 0x22, 0x00, 0x02, 0x11, 0x01, 0x03, 0x11, 0x01,
        0xff, 0xda, 0x00, 0x0c, 0x03, 0x01, 0x00, 0x02, 0x11, 0x03,
        0x11, 0x00, 0x3f, 0x00, 0x12, 0x34,
        0xff, 0xd9)).map(_.toByte).toArray
    val hj = Multimodal.parseHeader(1L, jpeg)
    assert(hj.fmt == "jpeg" && hj.width.contains(64L) && hj.height.contains(48L), hj)

    // same JPEG with spec-legal 0xFF fill bytes padded before the SOF0 and
    // SOS markers (ITU T.81 §B.1.1.2) — real encoders emit these, and a
    // walk that reads the fill byte AS the marker id misparses from there
    // (ADVICE r10 regression)
    val padded: Array[Byte] = {
      val b = scala.collection.mutable.ArrayBuffer.empty[Byte]
      var i = 0
      while (i < jpeg.length) {
        if (i + 1 < jpeg.length && (jpeg(i) & 0xff) == 0xff &&
            ((jpeg(i + 1) & 0xff) == 0xc0 || (jpeg(i + 1) & 0xff) == 0xda))
          b ++= Seq(0xff, 0xff, 0xff).map(_.toByte) // fill run, then marker
        b += jpeg(i)
        i += 1
      }
      b.toArray
    }
    val hjp = Multimodal.parseHeader(1L, padded)
    assert(hjp.fmt == "jpeg" && hjp.width.contains(64L) &&
      hjp.height.contains(48L), hjp)

    // builder round-trips for all three containers, offsets varied
    for (com <- Seq(1, 13, 29); prog <- Seq(false, true)) {
      val h = Multimodal.parseHeader(2L,
        Multimodal.buildJpeg(613, 401, com, prog, "body".getBytes))
      assert(h.fmt == "jpeg" && h.width.contains(613L) && h.height.contains(401L), h)
    }
    val hp = Multimodal.parseHeader(3L, Multimodal.buildPng(640, 360, "x".getBytes))
    assert(hp.fmt == "png" && hp.width.contains(640L) && hp.height.contains(360L), hp)
    for (junk <- Seq(0, 7, 15)) {
      val hw = Multimodal.parseHeader(4L,
        Multimodal.buildWav(2, 44100, junk, "pcm".getBytes))
      assert(hw.fmt == "wav" && hw.n_channels.contains(2L) &&
        hw.sample_rate.contains(44100L), hw)
    }

    // malformed inputs degrade to fmt=unknown, never throw
    assert(Multimodal.parseHeader(5L, "plain text".getBytes).fmt == "unknown")
    assert(Multimodal.parseHeader(6L, Array.emptyByteArray).fmt == "unknown")
    val trunc = Multimodal.buildPng(640, 360, "x".getBytes).take(20)
    assert(Multimodal.parseHeader(7L, trunc).fmt == "unknown")
    val noSof = Array(0xff, 0xd8, 0xff, 0xda, 0x00, 0x02).map(_.toByte)
    assert(Multimodal.parseHeader(8L, noSof).fmt == "unknown")

    // ADVICE r11 regression: a payload ENDING in an 0xFF fill run must
    // degrade to unknown, not index past the array — the skip loop can
    // exit with i+3 == p.length and the 2-byte length read would crash
    assert(Multimodal.parseHeader(9L,
      Array(0xff, 0xd8, 0xff, 0xff, 0xff, 0xd9).map(_.toByte)).fmt == "unknown")
    assert(Multimodal.parseHeader(10L,
      Array(0xff, 0xd8, 0xff, 0xff, 0xff, 0xff).map(_.toByte)).fmt == "unknown")
    assert(Multimodal.parseHeader(11L,
      Array(0xff, 0xd8, 0xff, 0xff, 0xff, 0xff, 0xff).map(_.toByte)).fmt == "unknown")
    // valid JPEG with a fill run APPENDED after EOI still parses
    val tailFill = jpeg ++ Array.fill(5)(0xff.toByte)
    val hjt = Multimodal.parseHeader(12L, tailFill)
    assert(hjt.fmt == "jpeg" && hjt.width.contains(64L), hjt)

    // ADVICE r14: 'BM' is a weak magic — a 'BM…'-prefixed TEXT blob must
    // degrade to unknown (nonzero bfReserved / insane bfOffBits), while a
    // real ImageIO-written BMP still classifies
    val bmText = ("BM this is a perfectly ordinary sentence that happens" +
      " to start with the bitmap magic bytes").getBytes("US-ASCII")
    assert(Multimodal.parseHeader(13L, bmText).fmt == "unknown")
    val realBmp = Multimodal.encodeGrayImage(13L) // odd id → BMP
    val hb = Multimodal.parseHeader(14L, realBmp)
    assert(hb.fmt == "bmp" && hb.width.contains(8L + 13L % 17L) &&
      hb.height.contains(8L + 13L % 13L), hb)
    // bfOffBits pointing past the payload end → rejected
    val cut = realBmp.take(30)
    assert(Multimodal.parseHeader(15L, cut).fmt == "unknown")
  }

  test("frame features vary per frame on REAL-decode payloads (ADVICE r14)") {
    // real codecs ignore the appended frame byte, so without the
    // frameSeed fold every frame of a decodable payload was identical
    for (payload <- Seq(Multimodal.encodeGrayImage(4L),  // PNG (even id)
                        Multimodal.encodeGrayImage(5L),  // BMP (odd id)
                        Multimodal.encodePcmWav(6L))) {  // WAV
      val f0 = Multimodal.decodeFeatures(payload :+ 0.toByte, 8, frameSeed = 1L)
      val f1 = Multimodal.decodeFeatures(payload :+ 1.toByte, 8, frameSeed = 2L)
      // the content stats (indices 0-3) stay frame-constant — same
      // decoded pixels/samples — but the hash tail must differ
      assert(!f0.sameElements(f1))
      assert(f0.take(4).sameElements(f1.take(4)))
      // frameSeed=0 (the default) leaves single-payload extraction
      // bit-identical to the unseeded path
      assert(Multimodal.decodeFeatures(payload, 8)
        .sameElements(Multimodal.decodeFeatures(payload, 8, frameSeed = 0L)))
    }
  }

  test("simhashPairs: oversized-bucket refinement keeps d<=3 recall exact (r13)") {
    // force the refinement path with a tiny cap: at maxBucketSize=2
    // almost every chunk bucket is oversized, so candidates come almost
    // entirely from the 12-bit sub-chunk recursion — output must still
    // equal brute-force all-pairs Hamming (the pigeonhole guarantee the
    // old drop-the-bucket cap silently broke at sf1: 2,340 pairs lost)
    val docs = Tables().documents.limit(60).select("doc_id", "text")
    val brute = {
      val fp = docs.select(col("doc_id"),
        graft.operators.Dedup.simhash64(col("text")).as("fp"))
      val l = fp.select(col("doc_id").as("id_a"), col("fp").as("fp_a"))
      val r = fp.select(col("doc_id").as("id_b"), col("fp").as("fp_b"))
      l.crossJoin(r).filter(col("id_a") < col("id_b"))
        .select(col("id_a"), col("id_b"),
          graft.operators.Dedup.hamming64(col("fp_a"), col("fp_b")).as("hamming"))
        .filter(col("hamming") <= 3)
        .collect().map(x => (x.getLong(0), x.getLong(1), x.getInt(2))).toSet
    }
    for (cap <- Seq(2, 5, 1000)) {
      val got = Dedup.simhashPairs(docs, "doc_id", "text",
          maxHamming = 3, maxBucketSize = cap)
        .collect().map(x => (x.getLong(0), x.getLong(1), x.getInt(2))).toSet
      assert(got == brute, s"cap=$cap: ${got.size} vs brute ${brute.size}")
    }
  }

  test("real pixel decode: PNG/BMP round-trips are exact, JPEG lossy-close") {
    // lossless round-trips: the decoded raster must replay the generator
    // formula EXACTLY — this is the in-JVM counterpart of the
    // multimodal_decode_stats oracle
    for (id <- Seq(0L, 1L, 41L, 1000002L)) {
      val payload = Multimodal.encodeGrayImage(id)
      val st = Multimodal.decodeImage(payload).get
      val w = 8 + (id % 17).toInt; val h = 8 + (id % 13).toInt
      val expSum = (for (y <- 0 until h; x <- 0 until w)
        yield (31 * id + 7 * x + 13 * y) % 256).sum
      assert(st.width == w && st.height == h, st)
      assert(st.pixelSum == expSum, s"id=$id: ${st.pixelSum} vs $expSum")
      // the structural header walk agrees with the codec on dimensions
      val hdr = Multimodal.parseHeader(id, payload)
      assert(hdr.fmt == (if (id % 2 == 0) "png" else "bmp"), hdr)
      assert(hdr.width.contains(w.toLong) && hdr.height.contains(h.toLong), hdr)
    }

    // JPEG: encoding is LOSSY, so dims must be exact and the mean level
    // close but not bit-equal — proving the pixels really went through
    // the DCT codec rather than a metadata shortcut
    val w = 24; val h = 16
    val img = new java.awt.image.BufferedImage(
      w, h, java.awt.image.BufferedImage.TYPE_BYTE_GRAY)
    for (y <- 0 until h; x <- 0 until w)
      img.getRaster.setSample(x, y, 0, (31 + 7 * x + 13 * y) % 256)
    val bos = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(img, "jpg", bos)
    val st = Multimodal.decodeImage(bos.toByteArray).get
    assert(st.width == w && st.height == h)
    val origMean = (for (y <- 0 until h; x <- 0 until w)
      yield (31 + 7 * x + 13 * y) % 256).sum.toDouble / (w * h)
    val decMean = st.pixelSum.toDouble / (w * h)
    assert(math.abs(decMean - origMean) < 8.0, s"$decMean vs $origMean")

    // and parseHeader agrees with the codec on the real JPEG's dims
    val hj = Multimodal.parseHeader(0L, bos.toByteArray)
    assert(hj.fmt == "jpeg" && hj.width.contains(w.toLong) &&
      hj.height.contains(h.toLong), hj)
  }

  test("real PCM decode: AudioSystem walks the JUNK chunk and replays samples") {
    for (id <- Seq(0L, 1L, 7L, 1000003L)) {
      val payload = Multimodal.encodePcmWav(id)
      val st = Multimodal.decodeWavPcm(payload).get
      val ch = 1 + (id % 2).toInt
      val nf = 32 + (id % 41).toInt
      val expSum = (0 until nf * ch)
        .map(i => ((37 * id + 11L * i) % 65536L) - 32768L).sum
      assert(st.nChannels == ch && st.sampleRate == 8000 + (id % 8).toInt * 4000)
      assert(st.nSamples == nf.toLong * ch)
      assert(st.sampleSum == expSum, s"id=$id: ${st.sampleSum} vs $expSum")
      val hdr = Multimodal.parseHeader(id, payload)
      assert(hdr.fmt == "wav" && hdr.n_channels.contains(ch.toLong), hdr)
    }
    // not-a-wav degrades to None, not a throw
    assert(Multimodal.decodeWavPcm("RIFFxxxxWAVEgarbage".getBytes).isEmpty)
    assert(Multimodal.decodeWavPcm("plain text".getBytes).isEmpty)
  }

  test("decodeFeatures: real media takes the codec path, other bytes the fallback") {
    // image payload: feature[0] is the REAL mean gray level — recompute
    // it from the decoded stats, not from any hash
    val png = Multimodal.encodeGrayImage(42L)
    val st = Multimodal.decodeImage(png).get
    val f = Multimodal.decodeFeatures(png, 8)
    assert(f(0) == (st.pixelSum.toDouble /
      (st.width.toLong * st.height * 255.0)).toFloat)
    assert(f(1) == st.pixMin / 255.0f && f(2) == st.pixMax / 255.0f)
    assert(f.length == 8 && f.forall(v => v >= -1f && v <= 1f))
    // wav payload: feature[0] is the real mean sample level
    val wav = Multimodal.encodePcmWav(42L)
    val sa = Multimodal.decodeWavPcm(wav).get
    val g = Multimodal.decodeFeatures(wav, 8)
    assert(g(0) == (sa.sampleSum.toDouble / sa.nSamples / 32768.0).toFloat)
    // non-media bytes: exactly the deterministic byte fallback (the
    // contract the existing multimodal_* oracles hash-check)
    val txt = "some document text".getBytes("UTF-8")
    assert(Multimodal.decodeFeatures(txt, 8).sameElements(
      Multimodal.byteFallbackFeatures(txt, 8)))
    // media-magic bytes that FAIL to decode also fall back, never throw
    val fakeBmp = "BMnot really a bitmap".getBytes("UTF-8")
    assert(Multimodal.decodeFeatures(fakeBmp, 8).sameElements(
      Multimodal.byteFallbackFeatures(fakeBmp, 8)))
  }

  test("autoK: ⌈√n⌉ clamped — cells scale with corpus instead of growing linearly") {
    import graft.operators.Similarity.autoK
    assert(autoK(10) == 8)          // floor
    assert(autoK(500) == 23)
    assert(autoK(2000) == 45)
    assert(autoK(1000000000L) == 31623) // 100 TB-scale corpus: ~8 MB of centroids
    assert(autoK(Long.MaxValue) == (1 << 18)) // broadcast-safety cap
  }

  test("asofBackward: latest right row at or before, ties prefer larger value") {
    def ts(s: String) = java.sql.Timestamp.valueOf(s)
    val left = Seq(
      (1L, 10L, ts("2024-01-01 10:00:00")), // after r2 → picks 21
      (2L, 10L, ts("2024-01-01 09:00:00")), // exactly at r1 (inclusive) → 20
      (3L, 10L, ts("2024-01-01 08:00:00")), // before any right row → null
      (4L, 99L, ts("2024-01-01 10:00:00"))  // key with no right rows → null
    ).toDF("event_id", "user_id", "ts")
    val right = Seq(
      (10L, ts("2024-01-01 09:00:00"), 20L),
      (10L, ts("2024-01-01 09:30:00"), 21L),
      (10L, ts("2024-01-01 09:30:00"), 19L), // tie on ts → 21 wins over 19
      (10L, ts("2024-01-01 11:00:00"), 22L)  // in the future of all lefts
    ).toDF("user_id", "ts", "click_id")
    val out = graft.operators.AsOf
      .asofBackward(left, right, "user_id", "ts", "ts", "click_id", "asof")
      .select("event_id", "asof").collect()
      .map(r => r.getLong(0) -> (if (r.isNullAt(1)) -1L else r.getLong(1)))
      .toMap
    assert(out == Map(1L -> 21L, 2L -> 20L, 3L -> -1L, 4L -> -1L))
  }

  test("asofForward: earliest right row at or after, ties prefer smaller value") {
    def ts(s: String) = java.sql.Timestamp.valueOf(s)
    val left = Seq(
      (1L, 10L, ts("2024-01-01 10:00:00")), // before 11:00 → 22
      (2L, 10L, ts("2024-01-01 09:30:00")), // exactly at tie pair (inclusive) → 19
      (3L, 10L, ts("2024-01-01 12:00:00")), // after all right rows → null
      (4L, 99L, ts("2024-01-01 10:00:00"))  // key with no right rows → null
    ).toDF("event_id", "user_id", "ts")
    val right = Seq(
      (10L, ts("2024-01-01 09:00:00"), 20L), // in the past of all lefts
      (10L, ts("2024-01-01 09:30:00"), 21L),
      (10L, ts("2024-01-01 09:30:00"), 19L), // tie on ts → 19 wins over 21
      (10L, ts("2024-01-01 11:00:00"), 22L)
    ).toDF("user_id", "ts", "click_id")
    val out = graft.operators.AsOf
      .asofForward(left, right, "user_id", "ts", "ts", "click_id", "fwd")
      .select("event_id", "fwd").collect()
      .map(r => r.getLong(0) -> (if (r.isNullAt(1)) -1L else r.getLong(1)))
      .toMap
    assert(out == Map(1L -> 22L, 2L -> 19L, 3L -> -1L, 4L -> -1L))
  }

  test("GK sketch: rank windows contain the true order statistics under any partitioning") {
    val n = 5000
    val vals = (0 until n).map(i => ((i * 2654435761L) % 100003).toDouble / 100.0)
    val sorted = vals.sorted
    val qs = Seq(0.0, 0.25, 0.5, 0.75, 0.99, 1.0)
    for (parts <- Seq(1, 7, 32)) {
      val df = vals.zipWithIndex.map { case (v, i) => (i.toLong, v) }
        .toDF("id", "v").repartition(parts)
      val row = df
        .agg(graft.functions.GKQuantile.gkBounds(col("v"), 0.01, qs).as("gk"))
        .select(col("gk.n"), col("gk.bounds")).collect()(0)
      assert(row.getLong(0) == n.toLong)
      val bounds = row.getSeq[org.apache.spark.sql.Row](1)
      assert(bounds.map(_.getDouble(0)) == qs)
      for (b <- bounds) {
        val (q, lo, hi) = (b.getDouble(0), b.getDouble(1), b.getDouble(2))
        val p = q * (n - 1)
        val k1 = math.floor(p).toInt // 0-indexed lower interpolation rank
        val k2 = math.min(n - 1, k1 + 1)
        assert(lo <= sorted(k1) && sorted(k2) <= hi,
          s"q=$q parts=$parts window [$lo,$hi] misses [${sorted(k1)},${sorted(k2)}]")
        // the window must also be NARROW (sketch useful, not degenerate):
        // ≤ ~6% of the value range at eps=0.01 with two merge levels
        assert(hi - lo <= (sorted.last - sorted.head) * 0.06 + 1e-9,
          s"q=$q parts=$parts window [$lo,$hi] too wide")
      }
    }
  }

  test("asofBackward with tolerance: candidates beyond the lookback bound become null") {
    def ts(s: String) = java.sql.Timestamp.valueOf(s)
    val left = Seq(
      (1L, 10L, ts("2024-01-01 10:00:00")), // 30 min to 09:30 → within 1h → 21
      (2L, 10L, ts("2024-01-01 12:30:00")), // 90 min past 11:00 → beyond → null
      (3L, 10L, ts("2024-01-01 11:00:00"))  // Δt = 0 → 22
    ).toDF("event_id", "user_id", "ts")
    val right = Seq(
      (10L, ts("2024-01-01 09:30:00"), 21L),
      (10L, ts("2024-01-01 11:00:00"), 22L)
    ).toDF("user_id", "ts", "click_id")
    val out = graft.operators.AsOf
      .asofBackward(left, right, "user_id", "ts", "ts", "click_id", "asof",
        toleranceUs = Some(3600L * 1000 * 1000))
      .select("event_id", "asof").collect()
      .map(r => r.getLong(0) -> (if (r.isNullAt(1)) -1L else r.getLong(1)))
      .toMap
    assert(out == Map(1L -> 21L, 2L -> -1L, 3L -> 22L))
  }

  test("zOrderKey: bit interleave matches the reference examples and is monotone in locality") {
    import graft.operators.Layout
    val df = Seq((1L, 0L), (0L, 1L), (3L, 3L), (5L, 2L))
      .toDF("a", "b")
      .select(Layout.zOrderKey(col("a"), col("b")).as("z"))
    // a's bits land odd, b's even: z(1,0)=2, z(0,1)=1, z(3,3)=15,
    // z(5,2)=(101 interleaved with 010)=100110b=38
    assert(df.collect().map(_.getLong(0)).toSeq == Seq(2L, 1L, 15L, 38L))
  }

  test("asofNearest: min |Δt|, equidistant prefers backward, side-local tie rules hold") {
    def ts(s: String) = java.sql.Timestamp.valueOf(s)
    val left = Seq(
      (1L, 10L, ts("2024-01-01 10:00:00")), // 30min to 09:30, 60min to 11:00 → 21
      (2L, 10L, ts("2024-01-01 10:15:00")), // equidistant 09:30/11:00 → backward 21
      (3L, 10L, ts("2024-01-01 08:00:00")), // before all rights → forward 20
      (4L, 10L, ts("2024-01-01 12:00:00")), // after all rights → backward 22
      (5L, 99L, ts("2024-01-01 10:00:00"))  // key with no rights → null
    ).toDF("event_id", "user_id", "ts")
    val right = Seq(
      (10L, ts("2024-01-01 09:00:00"), 20L),
      (10L, ts("2024-01-01 09:30:00"), 21L),
      (10L, ts("2024-01-01 09:30:00"), 19L), // backward equal-ts tie → larger (21)
      (10L, ts("2024-01-01 11:00:00"), 22L)
    ).toDF("user_id", "ts", "click_id")
    val out = graft.operators.AsOf
      .asofNearest(left, right, "user_id", "ts", "ts", "click_id", "near")
      .select("event_id", "near").collect()
      .map(r => r.getLong(0) -> (if (r.isNullAt(1)) -1L else r.getLong(1)))
      .toMap
    assert(out == Map(1L -> 21L, 2L -> 21L, 3L -> 20L, 4L -> 22L, 5L -> -1L))
  }

  test("connectedComponents: min label per component, chains included") {
    val pairs = Seq((1L, 2L), (2L, 3L), (10L, 11L), (3L, 4L))
      .toDF("id_a", "id_b")
    val cc = Dedup.connectedComponents(pairs).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(cc == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L,
      10L -> 10L, 11L -> 10L))
  }

  test("minhashPairsFromIndex: prebuilt shingle+bucket tables reproduce the text-path pairs") {
    val docs = Seq(
      (1L, "alpha beta gamma delta epsilon zeta eta theta iota kappa"),
      (2L, "alpha beta gamma delta epsilon zeta eta theta iota kappa"),
      (3L, "alpha beta gamma delta epsilon zeta eta theta iota lambda"),
      (4L, "one two three four five six seven eight nine ten")
    ).toDF("doc_id", "text")
    val direct = Dedup.minhashPairs(docs, "doc_id", "text",
      shingleSize = 3, bands = 16, rowsPerBand = 4, threshold = 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val sh = Dedup.hashedShingleTable(docs, "doc_id", "text", 3)
    val buckets = Dedup.bucketsFromShingles(sh, "doc_id", 16, 4)
    val viaIndex = Dedup.minhashPairsFromIndex(sh, buckets, "doc_id",
      threshold = 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(viaIndex == direct && direct.contains((1L, 2L)), s"$viaIndex vs $direct")
    val survivors = Dedup.minhashDedupFromIndexTables(docs, sh, buckets,
      "doc_id", threshold = 0.5)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(survivors == Set(1L, 4L), s"$survivors")
  }

  test("ngramJaccardPairs: exact dups score 1.0, disjoint docs absent") {
    val docs = Seq(
      (1L, "alpha beta gamma delta epsilon"),
      (2L, "alpha beta gamma delta epsilon"), // exact dup of 1
      (3L, "alpha beta gamma delta zeta"),    // near dup of 1
      (4L, "completely different words entirely here")
    ).toDF("doc_id", "text")
    val out = Dedup.ngramJaccardPairs(docs, "doc_id", "text",
      shingleSize = 3, threshold = 0.3)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    assert(out((1L, 2L)) == 1.0)
    assert(out.contains(1L -> 3L) && out((1L, 3L)) < 1.0)
    assert(!out.keys.exists { case (a, b) => a == 4L || b == 4L })
  }

  test("substringSpansFromIndexBloom: bloom-prefiltered probe is bit-identical to the plain probe") {
    val spans = SparkEntry.queries("dedup_substring_index")(spark, sfDir)
      .as[(Long, Long, Long, Long)].collect().toSeq
    val bloomed = SparkEntry.queries("dedup_substring_bloom")(spark, sfDir)
      .as[(Long, Long, Long, Long)].collect().toSeq
    assert(bloomed === spans)
    assert(spans.nonEmpty)
  }

  test("dedup_semantic_cells: planted scaled copies dropped, every original kept") {
    val survivors = SparkEntry.queries("dedup_semantic_cells")(spark, sfDir)
      .as[Long].collect().toSet
    val originals = graft.sources.Tables.load(spark, sfDir, "embeddings")
      .select("vec_id").as[Long].collect().toSet
    // the 0.9-scaled copies (vec_id ≥ 1000000) are colinear with their
    // originals (cosine ≈ 1), share the original's cell, and must all be
    // dropped (copy id > original id); originals are random vectors, so
    // none of them pair above 0.95 with each other
    assert(survivors === originals)
  }

  private case class Tabs(documents: org.apache.spark.sql.DataFrame,
                          embeddings: org.apache.spark.sql.DataFrame)
  private def Tables(): Tabs = Tabs(
    graft.sources.Tables.load(spark, sfDir, "documents"),
    graft.sources.Tables.load(spark, sfDir, "embeddings"))
}
