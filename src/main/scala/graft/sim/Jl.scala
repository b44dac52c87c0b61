package graft.sim

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.exprs.dot_product_l

/** Johnson–Lindenstrauss dimensionality reduction by SIGNED random
  * projection (Achlioptas 2003 "Database-friendly random projections":
  * ±1 entries preserve pairwise distances with the same JL guarantee
  * as Gaussian matrices and cost only adds) — the cheap-distance
  * lever for embedding search at corpus scale: a 64-d float vector
  * becomes a 16-d small-int vector, and a candidate scan pays k
  * integer multiply-adds instead of d float ones, before an exact
  * rerank restores the true ranking on the shortlist only.
  *
  * Everything is bit-deterministic across engines, by composing two
  * disciplines already proven here:
  *   - vectors enter L2-NORMALIZED (the Pq discipline — normalization
  *     is what makes squared-L2 distance rank by cosine; the first JL
  *     cut used [[Quantize.int8]]'s per-vector MAX normalization and
  *     measured recall@5 of 0.125, because codes then carry unequal
  *     norms and L2-of-codes ranks by neither cosine nor L2), then
  *     quantize to fixed point: q_i = round(x̂_i · 2^14) — one IEEE
  *     multiply and one ties-away round per element, exactly q75's
  *     replayable arithmetic;
  *   - the ±1 matrix is generated by a pinned-seed splitmix64
  *     ([[signMatrix]]) ON THE DRIVER and inlined as literals into
  *     BOTH the Spark plan and the DuckDB oracle — the q25 discipline
  *     (pinned LCG hyperplanes replayed in SQL), minus the need to
  *     replay the generator at all.
  * Projected components are exact integers (|p_j| ≤ dim·2^14, int-
  * safe), squared L2 distances are exact longs (≤ kDims·(2·dim·2^14)²
  * ≪ 2^53), so the projected-space ranking hash-compares with no
  * float past the entry quantization. The unscaled projection is used
  * deliberately: ranking by Σ(a_j-b_j)² is invariant to the 1/√k JL
  * scale factor, and a thresholdless top-k consumes only the ranking.
  *
  * Scale shape: projection is a narrow per-row map (no shuffle, no
  * corpus statistics — any slice projects without the rest). Search
  * is corpus × broadcast(projected queries), k-int work per pair; the
  * rerank touches full-width vectors only for shortlist·|queries|
  * rows. Composes with the persisted-index discipline trivially —
  * codes are per-row, so appending is a delta-sized map.
  */
object Jl {

  /** Deterministic ±1 matrix, kDims rows × dim cols, via splitmix64
    * of the flat cell index under `seed`. Generated on the driver
    * (kDims·dim cells — 1024 for the 64→16 shape), shared verbatim by
    * the Spark literals and the SQL oracle renderer. */
  def signMatrix(seed: Long, kDims: Int, dim: Int): Array[Array[Int]] = {
    def splitmix(x0: Long): Long = {
      var z = x0 + 0x9e3779b97f4a7c15L
      z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
      z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
      z ^ (z >>> 31)
    }
    Array.tabulate(kDims, dim) { (j, i) =>
      if ((splitmix(seed * 0x100000001b3L + j.toLong * dim + i) & 1L) == 0L) 1
      else -1
    }
  }

  /** Fixed-point scale: 2^14 keeps every projected component int-safe
    * at dim ≤ 2^16 while quantization noise (2^-15 relative) stays far
    * below JL distortion. */
  val FixedPointScale = 16384.0

  /** (idCol, q: array<int>) — L2-normalize (codegen'd one-pass
    * kernel), then q_i = round(x̂_i · 2^14). All vectors land on the
    * same scale, so integer L2 over codes ranks by cosine up to
    * quantization noise. */
  def codes(emb: DataFrame, idCol: String, vecCol: String): DataFrame =
    emb.select(col(idCol),
        graft.functions.exprs.normalize_l2(
          Vectors.asDouble(col(vecCol))).as("__nv"))
      .select(col(idCol),
        transform(col("__nv"),
          x => round(x * lit(FixedPointScale)).cast("int")).as("q"))

  /** (idCol, p: array<int>) — [[codes]], then p_j = signs_j · q as one
    * codegen'd [[graft.functions.DotProductL]] call per output
    * dimension against a constant sign row. */
  def project(emb: DataFrame, idCol: String, vecCol: String,
              signs: Array[Array[Int]]): DataFrame = {
    val q = codes(emb, idCol, vecCol)
    val comps: Seq[Column] = signs.toSeq.map { row =>
      dot_product_l(col("q"), typedlit(row.toSeq)).cast("int")
    }
    q.select(col(idCol), array(comps: _*).as("p"))
  }

  /** Exact top-k in the PROJECTED space: squared L2 distance over the
    * small-int codes, ties (dist2 ASC, id ASC). This is the
    * approximate operator — its ranking differs from the float cosine
    * ranking by exactly the JL distortion (recall measured in
    * docs/RECALL.md); the oracle replays the projected ranking
    * bit-for-bit. Output: (qid, idCol, dist2, rank). */
  def topK(emb: DataFrame, queries: DataFrame, k: Int,
           signs: Array[Array[Int]],
           idCol: String = "vec_id",
           vecCol: String = "embedding"): DataFrame = {
    // self-distance attaches per row before the pair join (the
    // bruteForceTopK norm trick): dist2 then pays ONE dot per pair
    val corpus = project(emb, idCol, vecCol, signs)
      .select(col(idCol).as("id"), col("p"),
        dot_product_l(col("p"), col("p")).as("pp"))
    val q = project(queries, idCol, vecCol, signs)
      .select(col(idCol).as("qid"), col("p").as("qp"),
        dot_product_l(col("p"), col("p")).as("qq"))
    val scored = corpus.join(broadcast(q), col("id") =!= col("qid"))
      .withColumn("dist2",
        col("pp") - lit(2L) * dot_product_l(col("p"), col("qp")) + col("qq"))
    val w = Window.partitionBy(col("qid"))
      .orderBy(col("dist2").asc, col("id").asc)
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("qid"), col("id").as(idCol), col("dist2"), col("rank"))
  }

  /** JL shortlist + EXACT float-cosine rerank — the production shape
    * (the [[Pq.adcRerankTopK]] twin with a JL scan instead of an ADC
    * scan): the projected distance prunes the corpus to `shortlist`
    * candidates per query, the true cosine reorders only those.
    * Both stages are engine-replayable (integer shortlist ranking,
    * then q19's one-IEEE-op-per-pair cosine), so the whole composition
    * hash-gates. Output: (qid, idCol, sim, rank), rank ≤ k. */
  def rerankTopK(emb: DataFrame, queries: DataFrame, k: Int, shortlist: Int,
                 signs: Array[Array[Int]],
                 idCol: String = "vec_id",
                 vecCol: String = "embedding"): DataFrame = {
    require(shortlist >= k, s"shortlist $shortlist must cover k=$k")
    val short = topK(emb, queries, shortlist, signs, idCol, vecCol)
      .select(col("qid"), col(idCol).as("id"))
    val corpus = emb.select(col(idCol).as("id"),
      Vectors.asDouble(col(vecCol)).as("v"))
      .withColumn("nrm", Vectors.norm(col("v")))
    val q = queries
      .select(col(idCol).as("qid"), Vectors.asDouble(col(vecCol)).as("qv"))
      .withColumn("qnrm", Vectors.norm(col("qv")))
    val scored = short
      .join(corpus, Seq("id"))
      .join(broadcast(q), Seq("qid"))
      .withColumn("sim",
        Vectors.dot(col("qv"), col("v")) / (col("qnrm") * col("nrm")))
    val w = Window.partitionBy(col("qid"))
      .orderBy(col("sim").desc, col("id").asc)
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("qid"), col("id").as(idCol), col("sim"), col("rank"))
  }

  /** DuckDB replay of [[project]]: CTEs (name → SQL body) rendering
    * the SAME sign matrix as list literals. Exposed for the oracle
    * builders in [[graft.queries.SimQueries]]. `qv` must provide (vec_id, q) int8 codes
    * 1-indexed by list position. */
  private[graft] def projectionSql(signs: Array[Array[Int]],
                                   src: String): String = {
    val comps = signs.map { row =>
      s"CAST(list_dot_product(q, ${row.mkString("[", ",", "]")}) AS BIGINT)"
    }.mkString("[", ", ", "]")
    s"SELECT vec_id, $comps AS p FROM $src"
  }
}
