package graft

import org.apache.spark.sql.functions._
import graft.dedup.{Curation, Dedup}
import graft.streaming.DocStreams
import graft.text.{TextFunctions => TF}
import graft.queries.RetrievalQueries

/** streaming.DocStreams: the curation gates on an ingest stream must
  * agree with the batch chain's lang→quality→exact prefix. */
class StreamingDocSpec extends SparkTestBase {
  import spark.implicits._

  private val cfg = Curation.Config(langs = Set("en", "de", "fr", "es"),
    minTokens = 5)

  test("streamed curation equals the batch prefix when nothing is late") {
    val docs = Tables.documents(spark, sf)
      .withColumn("ts", lit("2024-01-01 00:00:00").cast("timestamp"))
    val dir = java.nio.file.Files.createTempDirectory("graft-docstream").toString
    docs.write.mode("overwrite").parquet(dir)
    val stream = spark.readStream.schema(docs.schema).parquet(dir)
    val q = DocStreams.curateStream(stream, "ts", "1 hour", cfg)
      .writeStream.outputMode("append").format("memory")
      .queryName("curated_docs").start()
    try {
      q.processAllAvailable()
      val streamed = spark.table("curated_docs")
      // batch prefix: lang -> quality -> exact dedup (the corpus has
      // no PII, so the stream's redaction is the identity here)
      val batch = Dedup.exactDedup(
        docs.filter(Curation.langOk(col("lang"), cfg) &&
          Curation.qualityOk(col("text"), cfg)),
        "doc_id", "text")
      assert(streamed.count() == batch.count())
      // same kept CONTENT: survivor identity differs (stream keeps
      // first arrival, batch keeps lowest id) but the fingerprint
      // sets must match exactly
      def fps(df: org.apache.spark.sql.DataFrame) =
        df.select(TF.fingerprint(col("text"))).as[String].collect().toSet
      assert(fps(streamed) == fps(batch))
    } finally q.stop()
  }

  test("a duplicate arriving in a later micro-batch is dropped") {
    val dir = java.nio.file.Files.createTempDirectory("graft-docstream2").toString
    val batch1 = Seq(
      (1L, "the quick brown fox jumps over the lazy dog", "en", "s", 44L),
      (2L, "an entirely different second document body here", "en", "s", 47L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .withColumn("ts", lit("2024-01-01 00:00:00").cast("timestamp"))
    batch1.write.mode("append").parquet(dir)
    val stream = spark.readStream.schema(batch1.schema).parquet(dir)
    val q = DocStreams.curateStream(stream, "ts", "1 hour", cfg)
      .writeStream.outputMode("append").format("memory")
      .queryName("curated_docs2").start()
    try {
      q.processAllAvailable()
      assert(spark.table("curated_docs2").count() == 2)
      // second micro-batch: one re-ingest (same normalized content,
      // new id, inside the watermark) and one genuinely new doc
      Seq(
        (9L, "THE  QUICK   brown fox JUMPS over the lazy dog", "en", "s", 46L),
        (10L, "a third document that is new to the corpus stream", "en", "s", 49L))
        .toDF("doc_id", "text", "lang", "source", "n_chars")
        .withColumn("ts", lit("2024-01-01 00:10:00").cast("timestamp"))
        .write.mode("append").parquet(dir)
      q.processAllAvailable()
      val ids = spark.table("curated_docs2")
        .select("doc_id").as[Long].collect().toSet
      assert(ids == Set(1L, 2L, 10L), s"got $ids") // 9 deduped vs 1
    } finally q.stop()
  }

  test("documents differing only in PII are kept apart, then redacted") {
    // the dedup fingerprint is the RAW text (batch-chain order):
    // redacting first would merge these two distinct documents
    val dir = java.nio.file.Files.createTempDirectory("graft-docstream3").toString
    val docs = Seq(
      (1L, "please contact alice@example.com about the delivery", "en", "s", 51L),
      (2L, "please contact bob@elsewhere.org about the delivery", "en", "s", 51L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .withColumn("ts", lit("2024-01-01 00:00:00").cast("timestamp"))
    docs.write.mode("overwrite").parquet(dir)
    val stream = spark.readStream.schema(docs.schema).parquet(dir)
    val q = DocStreams.curateStream(stream, "ts", "1 hour", cfg)
      .writeStream.outputMode("append").format("memory")
      .queryName("curated_docs3").start()
    try {
      q.processAllAvailable()
      val out = spark.table("curated_docs3")
        .select("doc_id", "text").as[(Long, String)].collect().toMap
      assert(out.keySet == Set(1L, 2L), s"got ${out.keySet}")
      // both survivors redacted, and redaction makes them identical —
      // exactly why the fingerprint must be computed pre-redaction
      assert(out.values.forall(!_.contains("@")), out.values.mkString("|"))
      assert(out(1L) == out(2L), s"${out(1L)} vs ${out(2L)}")
    } finally q.stop()
  }

  test("batch mode keeps the lowest-id survivor (rerun-stable)") {
    val docs = Tables.documents(spark, sf)
      .withColumn("ts", lit("2024-01-01 00:00:00").cast("timestamp"))
    val batch = DocStreams.curateStream(docs, "ts", "1 hour", cfg)
    // survivor set is exactly the batch chain's: lang -> quality ->
    // exactDedup (min doc_id per content group), then redaction
    val expect = Dedup.exactDedup(
      docs.filter(Curation.langOk(col("lang"), cfg) &&
        Curation.qualityOk(col("text"), cfg)),
      "doc_id", "text")
    assert(batch.select("doc_id").as[Long].collect().sorted.toSeq ==
      expect.select("doc_id").as[Long].collect().sorted.toSeq)
  }

  test("streamed phrase decontamination equals q112's kept set") {
    val docs = Tables.documents(spark, sf)
    val phrases = RetrievalQueries.phraseQueries.map(_._2)
    val dir = java.nio.file.Files.createTempDirectory("graft-decon").toString
    docs.write.mode("overwrite").parquet(dir)
    val stream = spark.readStream.schema(docs.schema).parquet(dir)
    val q = DocStreams.decontaminateStream(stream, phrases)
      .writeStream.outputMode("append").format("memory")
      .queryName("decon_docs").start()
    try {
      q.processAllAvailable()
      val streamed = spark.table("decon_docs")
        .select("doc_id").as[Long].collect().toSet
      val batchKept = graft.text.Retrieval
        .phraseDecontaminate(docs, "doc_id", "text",
          RetrievalQueries.phraseQueryFrame(spark))
        .filter(col("kept") === 1)
        .select("doc_id").as[Long].collect().toSet
      assert(streamed == batchKept && streamed.nonEmpty)
      assert(streamed.size < docs.count()) // the gate actually bites
    } finally q.stop()
  }
}
