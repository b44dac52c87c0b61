package graft

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import graft.catalog.ParquetCatalog
import graft.dedup.Dedup
import graft.ops.{Eval, Pins}
import graft.sim.{Ann, Pq}
import graft.streaming.IngestLoop

/** ops.Pins: the one lineage-cut seam. The reliable-checkpoint escape
  * hatch must be a pure physical-plan choice — identical rows under
  * either mode for every pinning family — no other source file may
  * call a checkpoint API, and a pin keeps its caller's call site. */
class PinsSpec extends SparkTestBase {
  import spark.implicits._

  private val docs = Seq(
    (1L, "the quick brown fox jumps over the lazy dog by the river"),
    (2L, "the quick brown fox jumps over the lazy dog by the river bank"),
    (3L, "a completely different document about query engines"),
    (4L, "the quick brown fox jumps over the lazy dog"),
    (5L, "quick brown fox")
  ).toDF("doc_id", "text")

  // the shared SparkContext keeps this as its checkpoint dir for the
  // rest of the JVM, so it is deleted at exit, not under later suites
  private lazy val checkpointDir = {
    val dir = java.nio.file.Files.createTempDirectory("graft-ckpt")
    spark.sparkContext.setCheckpointDir(dir.toString)
    sys.addShutdownHook(Sessions.deleteTree(dir))
    dir
  }

  private def checkpointFiles(): Long =
    java.nio.file.Files.walk(checkpointDir).count()

  /** `run` under the default local pins, then under reliable ones —
    * which must have written to the checkpoint dir. */
  private def bothModes[T](run: => T): (T, T) = {
    val local = run
    val before = checkpointFiles()
    spark.conf.set("graft.checkpoint.reliable", "true")
    try {
      assert(Pins.reliable(docs))
      val reliable = run
      assert(checkpointFiles() > before, "no pin took the reliable path")
      (local, reliable)
    } finally spark.conf.unset("graft.checkpoint.reliable")
  }

  /** Every row, order-free, bit for bit (doubles compare exactly). */
  private def rows(df: DataFrame): Seq[List[Any]] =
    df.collect().toSeq.map(r => deep(r).asInstanceOf[List[Any]])
      .sortBy(_.toString)

  private def deep(v: Any): Any = v match {
    case r: Row => r.toSeq.map(deep).toList
    case s: scala.collection.Seq[_] => s.map(deep).toList
    case other => other
  }

  private def sameUnderBothModes(run: => Seq[Any]): Unit = {
    val (local, reliable) = bothModes(run)
    assert(local.nonEmpty)
    assert(reliable == local)
  }

  private def freshCatalog =
    new ParquetCatalog(
      java.nio.file.Files.createTempDirectory("graft-pins").toString)

  private def embeddings(n: Int) = (0L until n.toLong).map { i =>
    (i, Array.tabulate(8)(d =>
      math.sin((i % 7 + 1).toDouble * (d + 1)) + (i / 20) * 0.01))
  }.toDF("vec_id", "embedding")

  private def containmentRows(): Set[(Long, Long, Long)] = {
    val sets = docs.select(col("doc_id"),
      Dedup.charNgrams(col("text"), 5).as("set"))
    Dedup.containmentPairsSketch(sets, sets, "doc_id",
        tNum = 3, tDen = 5, sketchK = 8)
      .select("inner_id", "outer_id", "ovl")
      .as[(Long, Long, Long)].collect().toSet
  }

  private def semanticLosers(): Set[Long] =
    Dedup.semanticDedup(embeddings(40), "vec_id", "embedding",
        threshold = 0.95, nClusters = 4, iters = 1, probes = 2)
      .select("vec_id").as[Long].collect().toSet

  test("reliable-checkpoint flag changes storage, never results") {
    val (localC, reliableC) = bothModes(containmentRows())
    assert(reliableC == localC)
    val (localS, reliableS) = bothModes(semanticLosers())
    assert(reliableS == localS)
    assert(!Pins.reliable(docs))
  }

  test("exact pairs (q24 shape): identical rows under reliable pins") {
    sameUnderBothModes(rows(Dedup.exactNgramJaccardPairs(
      Tables.documents(spark, sf), "doc_id", "text", n = 5, threshold = 0.4)))
  }

  test("connectedComponents' lazy round pins: identical rows under reliable pins") {
    // a 12-link chain needs several pointer-jumping rounds
    val pairs = ((1L until 13L).map(i => (i, i + 1)) ++
      Seq((20L, 21L), (21L, 22L))).toDF("id_a", "id_b")
    sameUnderBothModes(rows(Dedup.connectedComponents(pairs)))
  }

  test("IngestLoop build plus one tick: identical tables under reliable pins") {
    val all = Tables.documents(spark, sf).select("doc_id", "text")
    val st = IngestLoop.State("corpus", "bloom", "pfx", "comps",
      bloomItems = 4096L)
    sameUnderBothModes {
      val cat = freshCatalog
      IngestLoop.build(all.filter(col("doc_id") % 10 =!= 0), cat, st)
      val survivors = rows(IngestLoop.ingest(
        all.filter(col("doc_id") % 10 === 0), cat, st).select("doc_id"))
      Seq(survivors,
        rows(cat.read(spark, st.corpus).select("doc_id", "text")),
        rows(IngestLoop.readComponents(spark, cat, st)))
    }
  }

  test("ANN k-means rounds: identical centroids under reliable pins") {
    sameUnderBothModes(rows(Ann.kmeansCentroids(
      Tables.embeddings(spark, sf), k = 8, iters = 3)))
  }

  test("PQ index build: identical codebooks and codes under reliable pins") {
    sameUnderBothModes {
      val cat = freshCatalog
      Pq.buildPqIndex(embeddings(50), cat, "pq", m = 2, k = 4, dim = 8)
      Seq(rows(cat.read(spark, "pq_codebooks")),
        rows(cat.read(spark, "pq_codes")))
    }
  }

  test("kendallBySegmentScalable's lazy round pins: identical rows under reliable pins") {
    val df = (for {
      s <- Seq("a", "b"); i <- 0 until 37
    } yield (s, i.toLong, ((i * 7) % 11).toLong, ((i * 5) % 7).toLong))
      .toDF("seg", "id", "x", "y")
    sameUnderBothModes(rows(
      Eval.kendallBySegmentScalable(df, "seg", "x", "y", "id", nBuckets = 8)))
  }

  test("a pin's RDD carries its caller's call site, and the old one is restored") {
    val sc = spark.sparkContext
    def scanOf(df: DataFrame) = df.queryExecution
      .explainString(org.apache.spark.sql.execution.FormattedMode)
    for (eager <- Seq(true, false)) {
      val plan = scanOf(Pins.pin(spark.range(10).toDF("id"), eager))
      assert(plan.contains("localCheckpoint at PinsSpec.scala:"), plan)
      assert(!plan.contains("Pins.scala"), plan)
    }
    assert(sc.getLocalProperty("callSite.short") == null)
    sc.setCallSite("outer site")
    try {
      Pins.pin(spark.range(3).toDF("id"))
      assert(sc.getLocalProperty("callSite.short") == "outer site")
    } finally sc.clearCallSite()
  }

  test("no source file outside Pins calls a checkpoint API") {
    import scala.jdk.CollectionConverters._
    val root = java.nio.file.Paths.get("src/main/scala")
    val callRe = """localCheckpoint\(|\.checkpoint\(""".r
    val offenders = java.nio.file.Files.walk(root).iterator().asScala
      .filter(_.toString.endsWith(".scala"))
      .filterNot(_.endsWith(java.nio.file.Paths.get("graft/ops/Pins.scala")))
      .flatMap { p =>
        // comments may name the API; only code counts
        val code = new String(java.nio.file.Files.readAllBytes(p), "UTF-8")
          .replaceAll("(?s)/\\*.*?\\*/", "")
          .replaceAll("//[^\n]*", "")
        callRe.findAllMatchIn(code).map(_ => root.relativize(p).toString)
      }.toSeq
    assert(offenders.isEmpty,
      s"${offenders.size} checkpoint call(s) bypass graft.ops.Pins: " +
        offenders.groupBy(identity).map { case (f, n) => s"$f ×${n.size}" }
          .mkString(", "))
  }
}
