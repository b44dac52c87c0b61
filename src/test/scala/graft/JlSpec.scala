package graft

import org.apache.spark.sql.functions._
import graft.sim.{Ann, Jl, Quantize}
import graft.queries.SimQueries

/** sim.Jl: signed-random-projection dimensionality reduction (q104)
  * and the JL-shortlist + exact-rerank composition (q105). */
class JlSpec extends SparkTestBase {
  import spark.implicits._

  test("signMatrix is pinned-seed deterministic, ±1, right shape") {
    val a = Jl.signMatrix(7L, 4, 16)
    val b = Jl.signMatrix(7L, 4, 16)
    assert(a.length == 4 && a.forall(_.length == 16))
    assert(a.map(_.toSeq).toSeq == b.map(_.toSeq).toSeq)
    assert(a.flatten.forall(s => s == 1 || s == -1))
    // both signs actually occur (a constant matrix would be a broken
    // generator and still pass the shape assertions)
    assert(a.flatten.toSet == Set(1, -1))
    val c = Jl.signMatrix(8L, 4, 16)
    assert(a.map(_.toSeq).toSeq != c.map(_.toSeq).toSeq)
  }

  test("project equals a Scala replay of signs · fixed-point codes") {
    val emb = Seq((1L, Array(1.0f, -2.0f, 0.5f, 4.0f)),
      (2L, Array(0f, 0f, 0f, 0f))).toDF("vec_id", "embedding")
    val signs = Jl.signMatrix(3L, 2, 4)
    val got = Jl.project(emb, "vec_id", "embedding", signs)
      .orderBy("vec_id")
      .select(col("vec_id"), col("p"))
      .as[(Long, Seq[Int])].collect().toSeq
    // replica of Jl.codes: sequential-fold L2 norm (the kernel's op
    // order), one divide + one multiply per element, HALF_UP round
    def codes(v: Array[Float]): Array[Int] = {
      var s = 0.0
      v.foreach { x => s += x.toDouble * x.toDouble }
      val nrm = math.sqrt(s)
      if (nrm == 0.0) Array.fill(v.length)(0)
      else v.map(x => BigDecimal(x.toDouble / nrm * Jl.FixedPointScale)
        .setScale(0, BigDecimal.RoundingMode.HALF_UP).toInt)
    }
    val q1 = codes(Array(1.0f, -2.0f, 0.5f, 4.0f))
    val expect1 = signs.map(row => row.zip(q1).map { case (s, q) => s * q }.sum)
    assert(got(0) == ((1L, expect1.toSeq)))
    assert(got(1) == ((2L, Seq(0, 0)))) // zero vector projects to zero
  }

  test("topK ranking matches a Scala L2 replay and is partition-proof") {
    val emb = Tables.embeddings(spark, sf)
    val q = emb.filter(col("vec_id") < 4)
    val signs = SimQueries.jlSigns
    val got = Jl.topK(emb, q, k = 5, signs)
      .select(col("qid"), col("vec_id"), col("dist2"), col("rank"))
      .as[(Long, Long, Long, Int)].collect().toSeq.sorted
    // replay: project everything, brute-force in projected space
    val proj = Jl.project(emb, "vec_id", "embedding", signs)
      .as[(Long, Seq[Int])].collect().toMap
    val expect = (for {
      qid <- proj.keys.filter(_ < 4)
      ranked = proj.toSeq.filter(_._1 != qid).map { case (id, p) =>
        val d2 = p.zip(proj(qid)).map { case (a, b) =>
          (a - b).toLong * (a - b) }.sum
        (id, d2)
      }.sortBy { case (id, d2) => (d2, id) }.take(5)
      ((id, d2), i) <- ranked.zipWithIndex
    } yield (qid, id, d2, i + 1)).toSeq.sorted
    assert(got == expect)
    val rep = Jl.topK(emb.repartition(13), q, k = 5, signs)
      .select(col("qid"), col("vec_id"), col("dist2"), col("rank"))
      .as[(Long, Long, Long, Int)].collect().toSeq.sorted
    assert(got == rep)
  }

  test("rerank with corpus-wide shortlist IS the exact float top-k") {
    val emb = Tables.embeddings(spark, sf)
    val q = emb.filter(col("vec_id") < 4)
    val n = emb.count().toInt
    val exact = Ann.bruteForceTopK(emb, q, k = 5)
      .select(col("qid"), col("vec_id"), col("rank"))
      .as[(Long, Long, Int)].collect().toSeq.sorted
    val rer = Jl.rerankTopK(emb, q, k = 5, shortlist = n,
      SimQueries.jlSigns)
      .select(col("qid"), col("vec_id"), col("rank"))
      .as[(Long, Long, Int)].collect().toSeq.sorted
    assert(rer == exact)
  }

  test("high recall on clustered data — the regime JL is for") {
    // 8 well-separated clusters x 6 members: each query's true top-5
    // IS its co-member set, so recall measures whether the projection
    // keeps clusters apart (inter >> intra). This is the low-
    // intrinsic-dimension regime real embedding corpora live in; the
    // near-isotropic synthetic corpus in RECALL.md is the worst case
    // and measures far lower by design.
    val rnd = new scala.util.Random(5)
    val cents = Array.fill(8, 64)(rnd.nextGaussian())
    val vecs = for (c <- 0 until 8; j <- 0 until 6) yield
      ((c * 6 + j).toLong,
        cents(c).map(x => (x + 0.05 * rnd.nextGaussian()).toFloat))
    val emb = vecs.toDF("vec_id", "embedding")
    val q = emb.filter(col("vec_id") % 6 === 0) // one query per cluster
    val signs = Jl.signMatrix(11L, 16, 64) // 4x compression
    def pairs(df: org.apache.spark.sql.DataFrame) =
      df.select(col("qid"), col("vec_id"))
        .as[(Long, Long)].collect().toSet
    val truth = pairs(graft.sim.Ann.bruteForceTopK(emb, q, k = 5))
    val found = pairs(Jl.topK(emb, q, k = 5, signs))
    val recall = (truth & found).size.toDouble / truth.size
    assert(recall >= 0.9, s"clustered-data recall $recall")
  }

  test("projection maps exact duplicates to distance zero") {
    // the projected NN of a vector that has an exact duplicate is that
    // duplicate at distance 0 — JL cannot separate identical codes
    val emb = Tables.embeddings(spark, sf).limit(20)
      .select(col("vec_id"), col("embedding"))
    val dup = emb.filter(col("vec_id") === 0)
      .select((col("vec_id") + 1000L).as("vec_id"), col("embedding"))
    val corpus = emb.unionByName(dup)
    val top1 = Jl.topK(corpus, corpus.filter(col("vec_id") === 1000L),
      k = 1, SimQueries.jlSigns)
      .select(col("vec_id"), col("dist2")).as[(Long, Long)].head()
    assert(top1 == ((0L, 0L)))
  }
}
