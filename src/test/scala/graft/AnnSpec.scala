package graft

import org.apache.spark.sql.functions._
import graft.sim.{Ann, Vectors}

/** sim.Ann + sim.Vectors: exact and LSH-bucketed cosine top-k. */
class AnnSpec extends SparkTestBase {
  import spark.implicits._

  test("cosine of identical vectors is 1.0, orthogonal is 0.0") {
    val df = Seq((Array(1.0, 2.0, 3.0), Array(1.0, 2.0, 3.0), Array(-2.0, 1.0, 0.0)))
      .toDF("a", "b", "c")
    val r = df.select(
      Vectors.cosine(col("a"), col("b")),
      Vectors.dot(col("a"), col("c"))).head()
    assert(math.abs(r.getDouble(0) - 1.0) < 1e-12)
    assert(r.getDouble(1) == 0.0)
  }

  test("bruteForceTopK ranks the known nearest neighbor first") {
    val e = Tables.embeddings(spark, sf)
    val top = Ann.bruteForceTopK(e, e.filter(col("vec_id") === 0), k = 3)
    val rows = top.orderBy("rank").collect()
    assert(rows.length == 3)
    assert(rows.map(_.getAs[Double]("sim")).sliding(2).forall(p => p(0) >= p(1)))
    assert(rows.forall(_.getAs[Long]("vec_id") != 0L)) // self excluded
  }

  test("filteredBruteForceTopK = brute force over the allowed corpus only") {
    val e = Tables.embeddings(spark, sf)
    val allowed = e.filter(col("vec_id") % 3 === 0).select("vec_id")
    val q = e.filter(col("vec_id") === 1) // probe outside the filter
    val got = Ann.filteredBruteForceTopK(e, allowed, q, k = 4)
    // exactly the unfiltered operator run on the pre-filtered corpus
    val want = Ann.bruteForceTopK(
      e.filter(col("vec_id") % 3 === 0), q, k = 4)
    assert(got.orderBy("qid", "rank").collect().toSeq ==
      want.orderBy("qid", "rank").collect().toSeq)
    // no filtered-out candidate ever surfaces; probe still answered
    val ids = got.select("vec_id").as[Long].collect()
    assert(ids.nonEmpty && ids.forall(_ % 3 == 0))
    // duplicate ids in the allowed frame must not multiply candidates
    val dup = Ann.filteredBruteForceTopK(e, allowed.union(allowed), q, k = 4)
    assert(dup.count() == got.count())
  }

  test("kmeansCentroids is deterministic, keeps k centroids of full dim") {
    val e = Tables.embeddings(spark, sf)
    val c1 = Ann.kmeansCentroids(e, k = 8, iters = 3)
      .orderBy("cid").collect()
      .map(r => (r.getLong(0), r.getSeq[Double](1).toVector))
    val c2 = Ann.kmeansCentroids(e, k = 8, iters = 3)
      .orderBy("cid").collect()
      .map(r => (r.getLong(0), r.getSeq[Double](1).toVector))
    assert(c1.length == 8)
    assert(c1.forall(_._2.length == 64))
    assert(c1.sameElements(c2)) // bit-identical across runs
  }

  test("lshTopK sims agree with brute force on shared pairs") {
    val e = Tables.embeddings(spark, sf)
    val q = e.filter(col("vec_id") < 4)
    val bf = Ann.bruteForceTopK(e, q, k = 5)
      .select("qid", "vec_id", "sim").as[(Long, Long, Double)].collect()
      .map { case (a, b, s) => ((a, b), s) }.toMap
    val lsh = Ann.lshTopK(e, q, k = 5, nPlanes = 4)
      .select("qid", "vec_id", "sim").as[(Long, Long, Double)].collect()
    assert(lsh.nonEmpty)
    lsh.foreach { case ((a, b, s)) =>
      bf.get((a, b)).foreach(bfSim => assert(bfSim == s)) // identical math
    }
  }

  test("persisted IVF index reproduces the inline form exactly") {
    val e = Tables.embeddings(spark, sf)
    val q = e.filter(col("vec_id") < 8)
    val root = java.nio.file.Files.createTempDirectory("graft-ivf").toString
    val cat = new graft.catalog.ParquetCatalog(root)
    Ann.buildIvfIndex(e, cat, "ivf", nCentroids = 16)
    val persisted = Ann.ivfTopKFromCatalog(q, cat, k = 5, nProbe = 4)
      .orderBy("qid", "rank").collect().toSeq
    val inline = Ann.ivfTopK(e, q, k = 5, nCentroids = 16, nProbe = 4)
      .orderBy("qid", "rank").collect().toSeq
    assert(persisted == inline)
    assert(persisted.nonEmpty)
    // the inverted lists are list_id-partitioned on disk: a probed
    // query reads only its lists' directories (file-level pruning)
    val listDirs = new java.io.File(s"$root/ivf_lists").list()
      .filter(_.startsWith("list_id="))
    assert(listDirs.length > 1, listDirs.mkString(","))
  }

  test("build-then-append IVF index answers identically to one-shot") {
    // assignment depends only on the centroids, so maintaining the
    // index incrementally must not move a single result bit
    val e = Tables.embeddings(spark, sf)
    val q = e.filter(col("vec_id") < 8)
    val root = java.nio.file.Files.createTempDirectory("graft-ivfa").toString
    val cat = new graft.catalog.ParquetCatalog(root)
    // base slice keeps vec_ids 0..15 -> same default centroids as full
    Ann.buildIvfIndex(e.filter(col("vec_id") < 32), cat, "ivfa", nCentroids = 16)
    Ann.appendToIvfIndex(e.filter(col("vec_id") >= 32), cat, "ivfa")
    val appended = Ann.ivfTopKFromCatalog(q, cat, k = 5, nProbe = 4, prefix = "ivfa")
      .orderBy("qid", "rank").collect().toSeq
    val inline = Ann.ivfTopK(e, q, k = 5, nCentroids = 16, nProbe = 4)
      .orderBy("qid", "rank").collect().toSeq
    assert(appended == inline)
    assert(appended.nonEmpty)
  }

  test("tie-breaking operators refuse a string id column up front") {
    val e = Tables.embeddings(spark, sf)
      .withColumn("vec_id", concat(lit("doc-"), col("vec_id")))
    val err = intercept[IllegalArgumentException](Ann.knnJoin(e, k = 3))
    assert(err.getMessage.contains("numeric id column"), err.getMessage)
    assert(err.getMessage.contains("knnJoin"), err.getMessage)
  }

  test("semanticDecon: total frame, exact hit counts, kept == zero hits") {
    val e = Tables.embeddings(spark, sf)
    val corpus = e.filter(col("vec_id") % 10 =!= 0)
    val probes = e.filter(col("vec_id") % 10 === 0)
    val r = Ann.semanticDecon(corpus, probes, threshold = 0.35)
    assert(r.count() == corpus.count()) // funnel accounting: nothing dropped
    val rows = r.collect().map(x => x.getAs[Long]("vec_id") ->
      (x.getAs[Long]("n_hits"), x.getAs[Boolean]("kept"))).toMap
    assert(rows.forall { case (_, (n, kept)) => kept == (n == 0L) })
    // replay one corpus vector's hit count by brute force
    val (someId, (someHits, _)) = rows.maxBy(_._2._1)
    val v = corpus.filter(col("vec_id") === someId)
      .select(sim.Vectors.asDouble(col("embedding"))).head().getSeq[Double](0).toArray
    val brute = probes.select(sim.Vectors.asDouble(col("embedding")))
      .collect().map(_.getSeq[Double](0).toArray).count { p =>
        val dot = v.zip(p).map { case (a, b) => a * b }.sum
        dot / (math.sqrt(v.map(x => x * x).sum) * math.sqrt(p.map(x => x * x).sum)) >= 0.35
      }
    assert(someHits == brute.toLong)
  }

  test("probeLeakage is semanticDecon's exact transpose (same pair mass)") {
    val e = Tables.embeddings(spark, sf)
    val corpus = e.filter(col("vec_id") % 10 =!= 0)
    val probes = e.filter(col("vec_id") % 10 === 0)
    val byProbe = Ann.probeLeakage(corpus, probes, threshold = 0.35)
    val byDoc = Ann.semanticDecon(corpus, probes, threshold = 0.35)
    // one frame per probe; clean == zero hits; total hit mass equal
    assert(byProbe.count() == probes.count())
    val rows = byProbe.collect()
    assert(rows.forall(r =>
      r.getAs[Boolean]("clean") == (r.getAs[Long]("n_hits") == 0L)))
    val probeMass = rows.map(_.getAs[Long]("n_hits")).sum
    val docMass = byDoc.collect().map(_.getAs[Long]("n_hits")).sum
    assert(probeMass == docMass) // the SAME pairs, counted by each side
  }

  test("semanticDecon flags a vector identical to a probe") {
    val corpus = Seq((1L, Array(1.0, 0.0)), (2L, Array(0.0, 1.0)))
      .toDF("vec_id", "embedding")
    val probes = Seq((100L, Array(2.0, 0.0))).toDF("vec_id", "embedding")
    val byId = Ann.semanticDecon(corpus, probes, threshold = 0.9)
      .collect().map(x => x.getLong(0) -> x.getAs[Boolean]("kept")).toMap
    assert(!byId(1L) && byId(2L)) // colinear -> leaked; orthogonal -> kept
  }

  test("hardNegatives: never the anchor's label, ranked by true cosine") {
    val e = Tables.embeddings(spark, sf)
    val anchors = e.filter(col("vec_id") < 3)
    val got = Ann.hardNegatives(e, anchors, k = 5)
      .orderBy("qid", "rank").collect()
    assert(got.length == 3 * 5)
    val lbl = e.select("vec_id", "label").as[(Long, Int)].collect().toMap
    got.foreach { r =>
      assert(lbl(r.getAs[Long]("vec_id")) != lbl(r.getAs[Long]("qid")))
    }
    // equals brute-force top-k over the pre-filtered different-label corpus
    anchors.select("vec_id", "label").as[(Long, Int)].collect().foreach {
      case (qid, ql) =>
        val want = Ann.bruteForceTopK(
          e.filter(col("label") =!= ql), e.filter(col("vec_id") === qid), k = 5)
          .orderBy("rank").select("vec_id", "sim").collect().toSeq
        val mine = got.filter(_.getAs[Long]("qid") == qid)
          .sortBy(_.getAs[Int]("rank")).map(r =>
            org.apache.spark.sql.Row(r.getAs[Long]("vec_id"), r.getAs[Double]("sim"))).toSeq
        assert(mine == want, s"qid=$qid")
    }
  }
}
