package graft

import org.apache.spark.sql.functions._
import graft.dedup.Dedup

/** ops.Pins: the reliable-checkpoint escape hatch must be a pure
  * physical-plan choice — identical rows under either mode, on the
  * operators whose pins route through it (the containment engine's
  * vocab/encode pins, semantic dedup's assignment pin). */
class PinsSpec extends SparkTestBase {
  import spark.implicits._

  private val docs = Seq(
    (1L, "the quick brown fox jumps over the lazy dog by the river"),
    (2L, "the quick brown fox jumps over the lazy dog by the river bank"),
    (3L, "a completely different document about query engines"),
    (4L, "the quick brown fox jumps over the lazy dog"),
    (5L, "quick brown fox")
  ).toDF("doc_id", "text")

  private def containmentRows(): Set[(Long, Long, Long)] = {
    val sets = docs.select(col("doc_id"),
      Dedup.charNgrams(col("text"), 5).as("set"))
    Dedup.containmentPairsSketch(sets, sets, "doc_id",
        tNum = 3, tDen = 5, sketchK = 8)
      .select("inner_id", "outer_id", "ovl")
      .as[(Long, Long, Long)].collect().toSet
  }

  private def semanticLosers(): Set[Long] = {
    val emb = (0L until 40L).map { i =>
      (i, Array.tabulate(8)(d =>
        math.sin((i % 7 + 1).toDouble * (d + 1)) + (i / 20) * 0.01))
    }.toDF("vec_id", "embedding")
    Dedup.semanticDedup(emb, "vec_id", "embedding", threshold = 0.95,
        nClusters = 4, iters = 1, probes = 2)
      .select("vec_id").as[Long].collect().toSet
  }

  test("reliable-checkpoint flag changes storage, never results") {
    val localC = containmentRows()
    val localS = semanticLosers()
    val dir = java.nio.file.Files.createTempDirectory("graft-ckpt")
    spark.sparkContext.setCheckpointDir(dir.toString)
    spark.conf.set("graft.checkpoint.reliable", "true")
    try {
      assert(graft.ops.Pins.reliable(docs))
      assert(containmentRows() == localC)
      assert(semanticLosers() == localS)
    } finally spark.conf.unset("graft.checkpoint.reliable")
    // the shared SparkContext keeps `dir` as its checkpoint dir for the
    // rest of the JVM, so it is deleted at exit, not under later suites
    sys.addShutdownHook {
      import scala.jdk.CollectionConverters._
      java.nio.file.Files.walk(dir).sorted(
          java.util.Comparator.reverseOrder[java.nio.file.Path]())
        .iterator().asScala.foreach(java.nio.file.Files.deleteIfExists(_))
    }
    assert(!graft.ops.Pins.reliable(docs))
  }
}
