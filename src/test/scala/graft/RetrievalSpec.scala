package graft

import org.apache.spark.sql.functions._
import graft.text.Retrieval
import graft.queries.RetrievalQueries

/** text.Retrieval: inverted-index keyword search with whole-bit idf
  * (q106 inline, q107 persisted + bucket-pruned). */
class RetrievalSpec extends SparkTestBase {
  import spark.implicits._

  private def docs4 = Seq(
    (1L, "apple banana apple"),
    (2L, "apple cherry"),
    (3L, "banana banana durian"),
    (4L, "cherry durian apple")).toDF("doc_id", "text")

  test("postings carry per-(token, doc) tf") {
    val p = Retrieval.postings(docs4, "doc_id", "text")
      .as[(String, Long, Long)].collect().toSet
    assert(p(("apple", 1L, 2L)) && p(("banana", 3L, 2L)) &&
      p(("durian", 4L, 1L)))
    assert(p.size == 9)
  }

  test("hand-computed whole-bit idf ranking with ties") {
    // N=4; df: apple=3 banana=2 cherry=2 durian=2
    // idf: apple floor(log2(4 div 3))=0; others floor(log2 2)=1
    // query "apple banana": d1 = 2*0+1*1 = 1; d3 = 2*1 = 2; d2 = 0; d4 = 0
    // docs 2 and 4 DO match 'apple' (score 0) - candidates, tie by id
    val q = Seq((7L, "apple banana")).toDF("qid", "qtext")
    val got = Retrieval.searchTopKInline(docs4, "doc_id", "text", q, k = 10)
      .as[(Long, Long, Long, Int)].collect().toSeq.sortBy(_._4)
    assert(got == Seq((7L, 3L, 2L, 1), (7L, 1L, 1L, 2),
      (7L, 2L, 0L, 3), (7L, 4L, 0L, 4)))
  }

  test("query terms are set-valued; unknown terms and queries drop out") {
    val q = Seq((1L, "banana banana banana"), (2L, "zzz qqq"))
      .toDF("qid", "qtext")
    val got = Retrieval.searchTopKInline(docs4, "doc_id", "text", q, k = 2)
      .as[(Long, Long, Long, Int)].collect().toSeq.sorted
    // banana counted once: d1 tf=1 idf=1 -> 1; d3 tf=2 -> 2; qid 2 gone
    assert(got == Seq((1L, 1L, 1L, 2), (1L, 3L, 2L, 1)).sorted)
  }

  test("persisted index reproduces the inline search bit-for-bit") {
    val tmp = java.nio.file.Files.createTempDirectory("graft_inv_").toString
    val cat = new graft.catalog.ParquetCatalog(tmp)
    val docs = Tables.documents(spark, sf)
    Retrieval.buildIndex(docs, "doc_id", "text", cat, "ix", nBuckets = 16)
    val q = RetrievalQueries.keywordQueryFrame(spark)
    val inline = Retrieval.searchTopKInline(docs, "doc_id", "text", q, 10)
      .as[(Long, Long, Long, Int)].collect().toSeq.sorted
    val persisted = Retrieval.searchTopKFromCatalog(spark, cat, "ix", q, 10)
      .as[(Long, Long, Long, Int)].collect().toSeq.sorted
    assert(inline == persisted)
    // the pruned scan touches only the query terms' buckets
    val bucketDirs = new java.io.File(tmp, "ix_postings")
      .listFiles().count(_.getName.startsWith("bucket="))
    assert(bucketDirs > 1, "bucketing did not partition the postings")
  }

  test("appendToIndex(seed, delta) ≡ buildIndex(all)") {
    val tmp = java.nio.file.Files.createTempDirectory("graft_inv_").toString
    val cat = new graft.catalog.ParquetCatalog(tmp)
    val docs = Tables.documents(spark, sf)
    val seed = docs.filter(col("doc_id") % 5 =!= 0)
    val delta = docs.filter(col("doc_id") % 5 === 0)
    Retrieval.buildIndex(seed, "doc_id", "text", cat, "ix", nBuckets = 16)
    Retrieval.appendToIndex(delta, "doc_id", "text", cat, "ix")
    val q = RetrievalQueries.keywordQueryFrame(spark)
    val appended = Retrieval.searchTopKFromCatalog(spark, cat, "ix", q, 10)
      .as[(Long, Long, Long, Int)].collect().toSeq.sorted
    val inline = Retrieval.searchTopKInline(docs, "doc_id", "text", q, 10)
      .as[(Long, Long, Long, Int)].collect().toSeq.sorted
    assert(appended == inline)
  }

  test("direct appends and rebuilds CARRY the streaming replay fence forward") {
    val tmp = java.nio.file.Files.createTempDirectory("graft_inv_").toString
    val cat = new graft.catalog.ParquetCatalog(tmp)
    val docs = Tables.documents(spark, sf).limit(60)
    def fence(): Option[Long] = {
      val m = cat.read(spark, "ix_meta")
      if (m.columns.contains("batch_id"))
        Some(m.head().getAs[Long]("batch_id"))
      else None
    }
    // a stream committed batch 5...
    Retrieval.buildIndex(docs.filter(col("doc_id") % 2 === 0),
      "doc_id", "text", cat, "ix", nBuckets = 8,
      commitBatchId = Some(5L))
    assert(fence().contains(5L))
    // ...then a batch-UNAWARE direct append must not reset it to -1:
    // a restart would otherwise re-apply batch 5 (double postings and
    // a re-advanced n_docs)
    Retrieval.appendToIndex(docs.filter(col("doc_id") % 2 =!= 0),
      "doc_id", "text", cat, "ix")
    assert(fence().contains(5L))
    // a maintenance REBUILD (contains every committed batch) keeps it too
    Retrieval.buildIndex(docs, "doc_id", "text", cat, "ix", nBuckets = 8)
    assert(fence().contains(5L))
    // an explicitly newer commit still advances
    Retrieval.appendToIndex(docs.limit(1), "doc_id", "text", cat, "ix",
      commitBatchId = Some(6L))
    assert(fence().contains(6L))
    // and a batch-naive index never grows a phantom fence
    Retrieval.buildIndex(docs, "doc_id", "text", cat, "ix2", nBuckets = 8)
    val m2 = cat.read(spark, "ix2_meta")
    assert(!m2.columns.contains("batch_id"))
  }

  test("phrase search: hand-computed occurrences, overlaps, no-hits") {
    val docs = Seq(
      (1L, "a b a b a"),   // "a b" at 0,2; "b a" at 1,3; "a b a" at 0,2
      (2L, "b a b"),
      (3L, "c c c")).toDF("doc_id", "text")
    val q = Seq((0L, "a b"), (1L, "a b a"), (2L, "c c"), (3L, "a c"))
      .toDF("qid", "qtext")
    val got = Retrieval.phraseSearchInline(docs, "doc_id", "text", q)
      .as[(Long, Long, Long, Long)].collect().toSet
    assert(got == Set(
      (0L, 1L, 2L, 0L), (0L, 2L, 1L, 1L),  // "a b"
      (1L, 1L, 2L, 0L),                    // overlapping "a b a" x2
      (2L, 3L, 2L, 0L)))                   // repeated-token "c c"; "a c" absent
  }

  test("phrase search: single-token phrase counts every occurrence") {
    val docs = Seq((1L, "x y x"), (2L, "y")).toDF("doc_id", "text")
    val q = Seq((0L, "x")).toDF("qid", "qtext")
    val got = Retrieval.phraseSearchInline(docs, "doc_id", "text", q)
      .as[(Long, Long, Long, Long)].collect().toSet
    assert(got == Set((0L, 1L, 2L, 0L)))
  }

  test("persisted positional index reproduces inline phrase search") {
    val tmp = java.nio.file.Files.createTempDirectory("graft_inv_").toString
    val cat = new graft.catalog.ParquetCatalog(tmp)
    val docs = Tables.documents(spark, sf)
    val seed = docs.filter(col("doc_id") % 5 =!= 0)
    val delta = docs.filter(col("doc_id") % 5 === 0)
    Retrieval.buildIndex(seed, "doc_id", "text", cat, "ix", nBuckets = 16)
    Retrieval.appendToIndex(delta, "doc_id", "text", cat, "ix")
    val q = RetrievalQueries.phraseQueryFrame(spark)
    val persisted = Retrieval.phraseSearchFromCatalog(spark, cat, "ix", q)
      .as[(Long, Long, Long, Long)].collect().toSeq.sorted
    val inline = Retrieval.phraseSearchInline(docs, "doc_id", "text", q)
      .as[(Long, Long, Long, Long)].collect().toSeq.sorted
    assert(persisted == inline && inline.nonEmpty)
  }

  test("phraseDecontaminate keeps only phrase-free docs, total frame") {
    val docs = Seq((1L, "a b c"), (2L, "x y"), (3L, "a b a b"))
      .toDF("doc_id", "text")
    val phrases = Seq((0L, "a b"), (1L, "y z")).toDF("qid", "qtext")
    val got = Retrieval
      .phraseDecontaminate(docs, "doc_id", "text", phrases)
      .as[(Long, Long, Int)].collect().toSet
    // docs 1 and 3 carry phrase 0; nothing carries "y z"; doc 2 clean
    assert(got == Set((1L, 1L, 0), (2L, 0L, 1), (3L, 1L, 0)))
  }

  test("hybridRrf fuses ranks over the union with absent-leg zeros") {
    val kw = Seq((0L, 10L, 5L, 1), (0L, 11L, 3L, 2))
      .toDF("qid", "doc_id", "score", "rank")
    val dense = Seq((0L, 11L, 0.9, 1), (0L, 12L, 0.8, 2))
      .toDF("qid", "doc_id", "sim", "rank")
    val got = Retrieval.hybridRrf(kw, dense, k = 10)
      .as[(Long, Long, Long, Long, Double, Int)].collect().toSeq
      .sortBy(_._6)
    // doc 11 in both legs wins; 10 (kw only) beats 12 (dense r=2)
    assert(got == Seq(
      (0L, 11L, 2L, 1L, 1.0 / 62 + 1.0 / 61, 1),
      (0L, 10L, 1L, 0L, 1.0 / 61, 2),
      (0L, 12L, 0L, 2L, 1.0 / 62, 3)))
  }

  test("phraseScrub removes exactly the matched spans, keeps the rest") {
    val docs = Seq(
      (1L, "a b c a b"),   // "a b" at 0 and 3
      (2L, "x"),           // untouched
      (3L, "a a a"))       // overlapping "a a" at 0,1 -> whole run
      .toDF("doc_id", "text")
    val phrases = Seq((0L, "a b"), (1L, "a a")).toDF("qid", "qtext")
    val got = Retrieval.phraseScrub(docs, "doc_id", "text", phrases)
      .as[(Long, String, Long)].collect().toSet
    assert(got == Set(
      (1L, "c", 4L),
      (2L, "x", 0L),
      (3L, "", 3L)))
  }

  test("rankEval: MRR / hits / recall with misses and absent queries") {
    val ranked = Seq((0L, 10L, 1), (0L, 11L, 2), (0L, 12L, 3))
      .toDF("qid", "doc_id", "rank")
    val rel = Seq((0L, 11L), (0L, 99L), (1L, 50L))
      .toDF("qid", "doc_id")
    val got = Retrieval.rankEval(ranked, rel, k = 10)
      .as[(Long, Long, Long, Double, Double)].collect().toSet
    // qid 0: first relevant at rank 2, 1 of 2 found
    // qid 1: defined by ground truth, zero ranked rows -> all zeros
    assert(got == Set(
      (0L, 2L, 1L, 0.5, 0.5),
      (1L, 1L, 0L, 0.0, 0.0)))
  }

  test("streaming index sink: two micro-batches == one batch build") {
    val root = java.nio.file.Files.createTempDirectory("graft_ixs_").toString
    val cat = new graft.catalog.ParquetCatalog(root + "/cat")
    val docs = Tables.documents(spark, sf)
    val dir = root + "/in"
    // batch 1 lands before the stream starts; batch 2 mid-stream
    docs.filter(col("doc_id") % 2 === 0).write.mode("append").parquet(dir)
    val stream = spark.readStream.schema(docs.schema).parquet(dir)
    val q = Retrieval.indexSink(stream, "doc_id", "text", cat, "six",
      checkpoint = root + "/chk", nBuckets = 16)
    try {
      q.processAllAvailable()
      docs.filter(col("doc_id") % 2 === 1).write.mode("append").parquet(dir)
      q.processAllAvailable()
    } finally q.stop()
    val queries = RetrievalQueries.keywordQueryFrame(spark)
    val streamed = Retrieval
      .searchTopKFromCatalog(spark, cat, "six", queries, k = 10)
      .as[(Long, Long, Long, Int)].collect().toSeq.sorted
    val inline = Retrieval
      .searchTopKInline(docs, "doc_id", "text", queries, k = 10)
      .as[(Long, Long, Long, Int)].collect().toSeq.sorted
    assert(streamed == inline && streamed.nonEmpty)
    // a phrase lookup off the same streamed index also agrees
    val pq = RetrievalQueries.phraseQueryFrame(spark)
    val sp = Retrieval.phraseSearchFromCatalog(spark, cat, "six", pq)
      .as[(Long, Long, Long, Long)].collect().toSeq.sorted
    val ip = Retrieval.phraseSearchInline(docs, "doc_id", "text", pq)
      .as[(Long, Long, Long, Long)].collect().toSeq.sorted
    assert(sp == ip)
    // the commit marker rides in _meta (one-write commit: replay can
    // never re-advance n_docs) …
    val meta = cat.read(spark, "six_meta").head()
    assert(meta.getAs[Long]("batch_id") >= 0L)
    val nDocsBefore = meta.getAs[Long]("n_docs")
    // … and a full replay (fresh checkpoint, same input, batch ids
    // restart at 0 ≤ committed) is skipped: index bytes unchanged
    val q2 = Retrieval.indexSink(stream, "doc_id", "text", cat, "six",
      checkpoint = root + "/chk2", nBuckets = 16)
    try q2.processAllAvailable() finally q2.stop()
    assert(cat.read(spark, "six_meta").head()
      .getAs[Long]("n_docs") == nDocsBefore)
    val replayed = Retrieval
      .searchTopKFromCatalog(spark, cat, "six", queries, k = 10)
      .as[(Long, Long, Long, Int)].collect().toSeq.sorted
    assert(replayed == inline)
  }

  test("a sink batch killed at each write boundary rolls forward: replay converges, nothing doubles") {
    val root = java.nio.file.Files.createTempDirectory("graft_ixk_").toString
    val docs = Tables.documents(spark, sf)
    val b0 = docs.filter(col("doc_id") % 2 === 0)
    val b1 = docs.filter(col("doc_id") % 2 === 1)
    val queries = RetrievalQueries.keywordQueryFrame(spark)
    val want = Retrieval.searchTopKInline(docs, "doc_id", "text",
      queries, 10).as[(Long, Long, Long, Int)].collect().toSeq.sorted
    val cleanPostings = Retrieval.postings(docs, "doc_id", "text").count()
    val cleanPositions =
      Retrieval.positionalPostings(docs, "doc_id", "text").count()
    for (stage <- Seq("postings", "positions", "meta")) {
      val cat = new graft.catalog.ParquetCatalog(s"$root/$stage")
      Retrieval.applySinkBatch(b0, 0L, "doc_id", "text", cat, "ix", 16)
      // the crash: batch 1 dies immediately before this stage's write
      val boom = intercept[RuntimeException](
        Retrieval.applySinkBatch(b1, 1L, "doc_id", "text", cat, "ix", 16,
          onStage = s =>
            if (s == stage) throw new RuntimeException(s"kill@$s")))
      assert(boom.getMessage == s"kill@$stage")
      // foreachBatch replays the SAME batch with the SAME id: the
      // epoch partition replace overwrites the half-landed files
      Retrieval.applySinkBatch(b1, 1L, "doc_id", "text", cat, "ix", 16)
      // nothing doubled: postings/positions row counts equal a clean
      // build (df is a per-token ROW count — doubling skews idf)
      assert(cat.read(spark, "ix_postings").count() == cleanPostings,
        s"postings rows drifted after kill@$stage")
      assert(cat.read(spark, "ix_positions").count() == cleanPositions,
        s"positions rows drifted after kill@$stage")
      val meta = cat.read(spark, "ix_meta").head()
      assert(meta.getAs[Long]("n_docs") == docs.count(),
        s"n_docs drifted after kill@$stage")
      assert(meta.getAs[Long]("batch_id") == 1L)
      // and the recovered index serves exactly the inline ranking
      val got = Retrieval.searchTopKFromCatalog(spark, cat, "ix",
        queries, 10).as[(Long, Long, Long, Int)].collect().toSeq.sorted
      assert(got == want, s"ranking drifted after kill@$stage")
    }
  }

  test("search is partition-independent on real docs") {
    val docs = Tables.documents(spark, sf)
    val q = RetrievalQueries.keywordQueryFrame(spark)
    val a = Retrieval.searchTopKInline(docs, "doc_id", "text", q, 10)
      .as[(Long, Long, Long, Int)].collect().toSeq.sorted
    val b = Retrieval.searchTopKInline(docs.repartition(13), "doc_id",
      "text", q, 10)
      .as[(Long, Long, Long, Int)].collect().toSeq.sorted
    assert(a == b && a.nonEmpty)
  }
}
