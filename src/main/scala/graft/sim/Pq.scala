package graft.sim

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Product quantization (PQ) ANN — the memory lever BEYOND int8
  * ([[Quantize]]): split each d-dim vector into `m` contiguous
  * subspaces, k-means each subspace independently (`k` centroids),
  * and store every vector as `m` small codebook indices. At m=16,
  * k=256 a 768-dim float32 vector compresses 3 KB → 16 bytes (192×),
  * which is the difference between an exhaustive candidate scan that
  * streams from object storage and one that sits in executor memory —
  * the standard 100 TB retrieval-stack layout (Jégou et al. 2011,
  * "Product Quantization for Nearest Neighbor Search" — public
  * methodology; composes with IVF lists exactly like FAISS's IVFPQ).
  *
  * Queries score by ADC (asymmetric distance computation): the query
  * stays un-quantized, one m×k lookup table of query↔centroid
  * distances is built per query, and each corpus vector costs m table
  * lookups ([[graft.functions.AdcSumL]] — one codegen'd kernel call
  * per pair). Distances are squared L2 per subspace, summed across
  * blocks.
  *
  * Determinism discipline (the library's fixed-point rule): codebook
  * training sums fixed-point integral images
  * ([[graft.functions.aggs.vec_mean_fixed]]) so centroids are
  * partition-invariant; the LUT entries are `floor(d2·1e9)` longs, so
  * the ADC score is an order-free INTEGER sum — the full ranking
  * hash-matches a DuckDB replay ([[adcOracleSql]]) with no float
  * accumulation anywhere past the per-block distance.
  *
  * Scale shape: training shuffles (corpus × m) subvector rows through
  * map-side-combined aggregates per Lloyd round; encoding is one
  * broadcast-join argmin (no shuffle of the corpus beyond its scan);
  * the query scan is |corpus| rows × |queries| LUT broadcasts with a
  * per-query top-k window. Codes + LUTs travel as int/long arrays —
  * the d-wide float vectors never enter the query-time plan.
  */
object Pq {
  /** Blocked view: one row per (id, block, sv) with sv the
    * `dim/m`-element subvector of the L2-NORMALIZED vector. The
    * normalization is what makes squared-L2 PQ serve COSINE retrieval
    * (on unit vectors ‖a−b‖² = 2 − 2·cos(a,b), so the L2 ranking IS
    * the cosine ranking — without it ADC ranks by magnitude and
    * recall@5 vs the cosine truth collapsed to 0.18, measured); an
    * all-zero vector stays zero. One per-element IEEE division, so
    * the DuckDB replay stays bit-exact. `dim` is declared, not
    * inferred — the caller knows its embedding width, and a
    * driver-side peek per invocation would cost an action. */
  private def blocked(df: DataFrame, idCol: String, vecCol: String,
                      m: Int, dim: Int): DataFrame = {
    val bs = dim / m
    // one codegen'd normalization per ROW behind a projection
    // boundary — inlining it into the m slice expressions would
    // re-evaluate it m times per row (NormalizeL2 scaladoc; measured
    // as the dominant q96 scan cost)
    df.select(col(idCol).as("id"),
        graft.functions.exprs.normalize_l2(
          Vectors.asDouble(col(vecCol))).as("__nv"))
      .select(col("id"),
        posexplode(array((0 until m).map(b =>
          slice(col("__nv"), b * bs + 1, bs)): _*)).as(Seq("block", "sv")))
  }

  /** Squared L2 in the pinned op shape `(a·a − 2·a·b) + b·b` — three
    * sequential-fold dots and left-associated arithmetic, identical in
    * Spark ([[Vectors.dot]]) and DuckDB (`list_dot_product`). */
  private def l2sq(a: Column, b: Column): Column =
    Vectors.dot(a, a) - lit(2.0) * Vectors.dot(a, b) + Vectors.dot(b, b)

  /** Train per-subspace codebooks: (block, code, cid, cv) with `code`
    * the dense 0..k-1 index (centroids ordered by init id within each
    * block — the layout [[adcTopK]]'s LUT indexes by). Init = the k
    * lowest-id vectors' subvectors (the [[Ann.kmeansCentroids]]
    * discipline — measured there against spread inits); `iters` Lloyd
    * rounds run over ALL blocks in one distributed iteration
    * (assignment keys on (id, block), means on (block, cid)). */
  def trainCodebooks(emb: DataFrame, m: Int, k: Int, dim: Int,
                     iters: Int = 2, idCol: String = "vec_id",
                     vecCol: String = "embedding"): DataFrame = {
    require(dim % m == 0, s"dim $dim not divisible into $m blocks")
    Ann.requireNumericId(emb, idCol, "Pq.trainCodebooks")
    val corpus = blocked(emb, idCol, vecCol, m, dim)
    val initIds = emb.select(col(idCol).as("id")).orderBy(col("id")).limit(k)
    var centroids = corpus.join(broadcast(initIds), Seq("id"))
      .select(col("block"), col("id").as("cid"), col("sv").as("cv"))
    var i = 0
    while (i < iters) {
      // argmin by aggregation (partial hash agg collapses the k
      // candidates per (id, block) before any exchange — lloydRounds'
      // reasoning); ties to the lowest cid
      val assigned = corpus.join(broadcast(centroids), Seq("block"))
        .withColumn("d2", l2sq(col("sv"), col("cv")))
        .groupBy(col("id"), col("block"))
        .agg(min_by(col("cid"), struct(col("d2"), col("cid"))).as("cid"),
          first(col("sv")).as("sv"))
      val means = assigned.groupBy(col("block"), col("cid"))
        .agg(graft.functions.aggs.vec_mean_fixed(col("sv"), scale = 9).as("cv"))
      // empty cells keep their previous centroid
      val kept = centroids.join(means, Seq("block", "cid"), "left_anti")
      // lazy: the next round's broadcast build (or the caller's final
      // consumer) materializes the blocks — same lineage truncation,
      // one fewer job per round (see Ann.lloydRounds)
      centroids = means.unionByName(kept).localCheckpoint(false)
      i += 1
    }
    val w = Window.partitionBy(col("block")).orderBy(col("cid"))
    centroids.withColumn("code", (row_number().over(w) - 1).cast("int"))
      .select(col("block"), col("code"), col("cid"), col("cv"))
  }

  /** Encode the corpus: (id, codes array<int>) — nearest codebook
    * entry per block (squared L2, ties to the lowest code), codes
    * ordered by block. One broadcast join + one id-keyed fold. */
  def encode(emb: DataFrame, codebooks: DataFrame, m: Int, dim: Int,
             idCol: String = "vec_id",
             vecCol: String = "embedding"): DataFrame =
    blocked(emb, idCol, vecCol, m, dim)
      .join(broadcast(codebooks.select(col("block"), col("code"), col("cv"))),
        Seq("block"))
      .withColumn("d2", l2sq(col("sv"), col("cv")))
      .groupBy(col("id"), col("block"))
      .agg(min_by(col("code"), struct(col("d2"), col("code"))).as("code"))
      .groupBy(col("id"))
      .agg(transform(
        sort_array(collect_list(struct(col("block"), col("code")))),
        s => s.getField("code")).as("codes"))
      .select(col("id").as(idCol), col("codes"))

  /** ADC top-k: every query's `floor(d2·1e9)` LUT (block-major
    * array<long>, built from one broadcast codebook join) scans the
    * coded corpus with [[graft.functions.AdcSumL]]; rank by (adc_fix
    * ASC, id ASC). Returns (qid, idCol, adc_fix, rank ≤ topK).
    * `codes` is [[encode]]'s output — persist it as a catalog table
    * and this is a pure code-scan query, the IVFPQ steady state. */
  /** Per-query block-major fixed-point LUT: (qid, lut array<long>). */
  private def lutOf(queries: DataFrame, codebooks: DataFrame,
                    m: Int, dim: Int, idCol: String,
                    vecCol: String): DataFrame =
    blocked(queries, idCol, vecCol, m, dim)
      .join(broadcast(codebooks.select(col("block"), col("code"), col("cv"))),
        Seq("block"))
      .withColumn("fix", floor(l2sq(col("sv"), col("cv")) * lit(1e9)).cast("long"))
      .groupBy(col("id"))
      .agg(transform(
        sort_array(collect_list(struct(col("block"), col("code"), col("fix")))),
        s => s.getField("fix")).as("lut"))
      .select(col("id").as("qid"), col("lut"))

  private def rankAdc(scored: DataFrame, topK: Int,
                      idCol: String): DataFrame = {
    val w = Window.partitionBy(col("qid"))
      .orderBy(col("adc_fix").asc, col(idCol).asc)
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= topK)
      .select(col("qid"), col(idCol), col("adc_fix"), col("rank"))
  }

  def adcTopK(codes: DataFrame, queries: DataFrame, codebooks: DataFrame,
              m: Int, dim: Int, topK: Int,
              idCol: String = "vec_id",
              vecCol: String = "embedding"): DataFrame = {
    val lut = lutOf(queries, codebooks, m, dim, idCol, vecCol)
    rankAdc(
      codes.join(broadcast(lut), col(idCol) =!= col("qid"))
        .withColumn("adc_fix",
          graft.functions.exprs.adc_sum_l(col("lut"), col("codes"))),
      topK, idCol)
  }

  /** [[adcTopK]] restricted to an explicit candidate frame
    * (qid, idCol) — the composition hook structure-pruned scans plug
    * into ([[graft.sim.Ann.probeLists]] × inverted lists for IVFPQ):
    * only the candidate pairs are scored, so the ADC cost is the
    * pruned mass, not |corpus|·|queries|. */
  def adcTopKOn(candidates: DataFrame, codes: DataFrame,
                queries: DataFrame, codebooks: DataFrame,
                m: Int, dim: Int, topK: Int,
                idCol: String = "vec_id",
                vecCol: String = "embedding"): DataFrame = {
    val lut = lutOf(queries, codebooks, m, dim, idCol, vecCol)
    rankAdc(
      candidates.select(col("qid"), col(idCol))
        .join(codes, Seq(idCol))
        .join(broadcast(lut), Seq("qid"))
        .filter(col(idCol) =!= col("qid"))
        .withColumn("adc_fix",
          graft.functions.exprs.adc_sum_l(col("lut"), col("codes"))),
      topK, idCol)
  }

  /** The production PQ query shape: ADC SHORTLIST of `shortlist`
    * candidates per query (the cheap integer scan above), then EXACT
    * cosine rerank of just those — recall jumps from the raw ADC
    * ranking's to near-exact (measured in docs/RECALL.md: 0.625 →
    * 0.975 at shortlist=50 on the 500-vector gate corpus) while the
    * full-width vectors are touched for only `shortlist/|corpus|` of
    * the scan (Jégou et al.'s IVFADC + rerank discipline). The rerank
    * join re-reads the corpus BY ID (a semi-join-shaped probe of
    * shortlist ids — at scale a broadcast of |Q|·shortlist ids
    * pruning the vector table's scan), so the wide vectors never
    * cross a shuffle. Returns (qid, idCol, sim, rank ≤ topK) — q19's
    * output contract, cosine on the ORIGINAL vectors. */
  def adcRerankTopK(emb: DataFrame, codes: DataFrame, queries: DataFrame,
                    codebooks: DataFrame, m: Int, dim: Int,
                    shortlist: Int, topK: Int,
                    idCol: String = "vec_id",
                    vecCol: String = "embedding"): DataFrame =
    rerankExact(emb,
      adcTopK(codes, queries, codebooks, m, dim, shortlist, idCol, vecCol),
      queries, topK, idCol, vecCol)

  /** Full IVFADC: IVF probes bound WHICH vectors are scored
    * (`candidates` = [[graft.sim.Ann.probeLists]] ⋈ inverted lists),
    * PQ codes make scoring them cheap (integer ADC shortlist), the
    * exact cosine rerank restores exactness at the top — the FAISS
    * IVFPQ composition, every stage off persisted artifacts. Scan
    * cost per query ≈ (nProbe/nLists)·|corpus| code lookups plus
    * `shortlist` full-width vectors. */
  def ivfAdcRerankTopK(emb: DataFrame, candidates: DataFrame,
                       codes: DataFrame, queries: DataFrame,
                       codebooks: DataFrame, m: Int, dim: Int,
                       shortlist: Int, topK: Int,
                       idCol: String = "vec_id",
                       vecCol: String = "embedding"): DataFrame =
    rerankExact(emb,
      adcTopKOn(candidates, codes, queries, codebooks, m, dim, shortlist,
        idCol, vecCol),
      queries, topK, idCol, vecCol)

  /** Exact cosine rerank of a (qid, idCol) shortlist against the
    * ORIGINAL vectors — q19's arithmetic (query norm first). */
  private def rerankExact(emb: DataFrame, short: DataFrame,
                          queries: DataFrame, topK: Int,
                          idCol: String, vecCol: String): DataFrame = {
    val v = emb.select(col(idCol),
      Vectors.asDouble(col(vecCol)).as("v"))
      .withColumn("nrm", Vectors.norm(col("v")))
    val qv = queries.select(col(idCol).as("qid"),
      Vectors.asDouble(col(vecCol)).as("qv"))
      .withColumn("qnrm", Vectors.norm(col("qv")))
    val scored = short.select(col("qid"), col(idCol))
      .join(v, Seq(idCol)).join(broadcast(qv), Seq("qid"))
      .withColumn("sim",
        Vectors.dot(col("qv"), col("v")) / (col("qnrm") * col("nrm")))
    val w = Window.partitionBy(col("qid"))
      .orderBy(col("sim").desc, col(idCol).asc)
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= topK)
      .select(col("qid"), col(idCol), col("sim"), col("rank"))
  }

  /** Persist the trained index as catalog tables —
    * `<prefix>_codebooks` (block, code, cid, cv) and
    * `<prefix>_codes` (idCol, codes) — the build-once/query-many
    * split the persisted IVF index (q77) established: codebook
    * training and corpus encoding are the passes that dominate at
    * 100 TB, paid once here; a query batch then reads two tables and
    * runs the pure ADC scan. Parquet round-trips binary64 and int
    * arrays exactly, so the persisted path is bit-neutral: q96/q97
    * share the inline oracle. */
  def buildPqIndex(emb: DataFrame, catalog: graft.catalog.TableCatalog,
                   prefix: String, m: Int, k: Int, dim: Int,
                   iters: Int = 2, idCol: String = "vec_id",
                   vecCol: String = "embedding"): Unit = {
    val cb = trainCodebooks(emb, m, k, dim, iters, idCol, vecCol)
      .localCheckpoint(true) // encode consumes it twice (join + layout)
    catalog.overwrite(cb, s"${prefix}_codebooks")
    catalog.overwrite(encode(emb, cb, m, dim, idCol, vecCol),
      s"${prefix}_codes")
  }

  /** Append a delta batch to a persisted index: encode against the
    * FROZEN persisted codebooks, append to the codes table — daily
    * upkeep is one delta-sized job, the accumulated index never
    * re-encodes (the [[graft.dedup.Dedup.appendToPrefixIndex]] /
    * [[Ann.appendToIvfIndex]] discipline). Sound at every point: ADC
    * scores are exact with respect to the DECLARED codebooks, so a
    * drifting vector distribution erodes quantization FINENESS (raw
    * ADC recall), never correctness — and the q97 rerank restores
    * exactness at the top regardless. Policy for heavy drift =
    * rebuild, as with the prefix index. Each id's single code row
    * commits atomically (one row per id, file-level append). */
  def appendToPqIndex(delta: DataFrame, catalog: graft.catalog.TableCatalog,
                      prefix: String, m: Int, dim: Int,
                      idCol: String = "vec_id",
                      vecCol: String = "embedding"): Unit = {
    val cb = catalog.read(delta.sparkSession, s"${prefix}_codebooks")
    catalog.append(encode(delta, cb, m, dim, idCol, vecCol),
      s"${prefix}_codes")
  }

  /** DuckDB oracle twin of train → encode → [[adcTopK]] as ONE query
    * over `embeddings` — subspace Lloyd rounds unrolled with the same
    * fixed-point means as the q48 replay, LUT and ADC in exact
    * integer arithmetic. Queries are `vec_id < nQueries`.
    * `trainWhere` restricts the TRAINING corpus (init + Lloyd) to a
    * seed slice while encoding/scoring still cover every vector — the
    * build-then-append protocol's exact replay (q98). */
  def adcOracleSql(m: Int, k: Int, dim: Int, iters: Int, nQueries: Int,
                   topK: Int, trainWhere: String = "TRUE"): String =
    s"""WITH ${adcCtes(m, k, dim, iters, nQueries, trainWhere)}
       |SELECT qid, vec_id, CAST(adc_fix AS BIGINT) AS adc_fix,
       |  CAST(rnk AS INTEGER) AS rank FROM (
       |  SELECT qid, vec_id, adc_fix,
       |    row_number() OVER (PARTITION BY qid ORDER BY adc_fix ASC, vec_id ASC)
       |      AS rnk FROM scored) WHERE rnk <= $topK""".stripMargin

  /** DuckDB oracle twin of [[adcRerankTopK]] — the shared ADC CTEs,
    * a per-query shortlist, then the exact cosine rerank on the
    * ORIGINAL vectors (q19's arithmetic, query norm first). */
  def adcRerankOracleSql(m: Int, k: Int, dim: Int, iters: Int,
                         nQueries: Int, shortlist: Int,
                         topK: Int): String =
    s"""WITH ${adcCtes(m, k, dim, iters, nQueries)},
       |short AS (
       |  SELECT qid, vec_id FROM (
       |    SELECT qid, vec_id,
       |      row_number() OVER (PARTITION BY qid ORDER BY adc_fix ASC, vec_id ASC)
       |        AS rnk FROM scored) WHERE rnk <= $shortlist),
       |rr AS (
       |  SELECT s.qid, s.vec_id,
       |    list_dot_product(q.v0, c.v0) /
       |      (sqrt(list_dot_product(q.v0, q.v0)) *
       |       sqrt(list_dot_product(c.v0, c.v0))) AS sim
       |  FROM short s JOIN e0 c ON c.vec_id = s.vec_id
       |  JOIN e0 q ON q.vec_id = s.qid)
       |SELECT qid, vec_id, sim, CAST(rnk AS INTEGER) AS rank FROM (
       |  SELECT qid, vec_id, sim,
       |    row_number() OVER (PARTITION BY qid ORDER BY sim DESC, vec_id ASC)
       |      AS rnk FROM rr) WHERE rnk <= $topK""".stripMargin

  /** DuckDB oracle twin of the IVFADC composition ([[ivfAdcRerankTopK]]
    * fed by [[graft.sim.Ann.probeLists]] × inverted lists): the shared
    * ADC CTEs, the q42-shape IVF assignment on the RAW vectors
    * (lowest-id centroids, cosine, ties by list id), candidates from
    * probed lists only, integer ADC shortlist, exact cosine rerank. */
  def ivfAdcRerankOracleSql(m: Int, k: Int, dim: Int, iters: Int,
                            nQueries: Int, nCentroids: Int, nProbe: Int,
                            shortlist: Int, topK: Int): String = {
    def cos(a: String, b: String): String =
      s"list_dot_product($a, $b) / (sqrt(list_dot_product($a, $a)) * " +
        s"sqrt(list_dot_product($b, $b)))"
    s"""WITH ${adcCtes(m, k, dim, iters, nQueries)},
       |ivc AS (SELECT vec_id AS cid, v0 AS cv FROM e0
       |  ORDER BY vec_id LIMIT $nCentroids),
       |ivr AS (
       |  SELECT e0.vec_id, c.cid,
       |    row_number() OVER (PARTITION BY e0.vec_id ORDER BY
       |      ${cos("e0.v0", "c.cv")} DESC, c.cid) AS crank
       |  FROM e0, ivc c),
       |ivlists AS (SELECT vec_id, cid AS list_id FROM ivr WHERE crank = 1),
       |ivprobes AS (SELECT vec_id AS qid, cid AS list_id FROM ivr
       |  WHERE vec_id < $nQueries AND crank <= $nProbe),
       |cand AS (
       |  SELECT p.qid, l.vec_id FROM ivprobes p
       |  JOIN ivlists l USING (list_id) WHERE l.vec_id <> p.qid),
       |cscored AS (
       |  SELECT c.qid, c.vec_id, SUM(l.fix) AS adc_fix
       |  FROM cand c JOIN enc ON enc.id = c.vec_id
       |  JOIN lut l ON l.qid = c.qid AND l.block = enc.block
       |    AND l.code = enc.code
       |  GROUP BY 1, 2),
       |cshort AS (
       |  SELECT qid, vec_id FROM (
       |    SELECT qid, vec_id,
       |      row_number() OVER (PARTITION BY qid ORDER BY adc_fix ASC, vec_id ASC)
       |        AS rnk FROM cscored) WHERE rnk <= $shortlist),
       |rr AS (
       |  SELECT s.qid, s.vec_id,
       |    list_dot_product(q.v0, c.v0) /
       |      (sqrt(list_dot_product(q.v0, q.v0)) *
       |       sqrt(list_dot_product(c.v0, c.v0))) AS sim
       |  FROM cshort s JOIN e0 c ON c.vec_id = s.vec_id
       |  JOIN e0 q ON q.vec_id = s.qid)
       |SELECT qid, vec_id, sim, CAST(rnk AS INTEGER) AS rank FROM (
       |  SELECT qid, vec_id, sim,
       |    row_number() OVER (PARTITION BY qid ORDER BY sim DESC, vec_id ASC)
       |      AS rnk FROM rr) WHERE rnk <= $topK""".stripMargin
  }

  /** Shared CTE body: normalize → block → subspace Lloyd (unrolled,
    * over the `trainWhere` seed slice) → dense codes → encode → LUT →
    * integer ADC scores (`scored`). */
  private def adcCtes(m: Int, k: Int, dim: Int, iters: Int,
                      nQueries: Int, trainWhere: String = "TRUE"): String = {
    val bs = dim / m
    def d2(a: String, b: String): String =
      s"list_dot_product($a, $a) - 2*list_dot_product($a, $b) + list_dot_product($b, $b)"
    def round(prev: String, i: Int): String =
      s"""a$i AS (
         |  SELECT id, block, cid FROM (
         |    SELECT bv.vec_id AS id, bv.block, c.cid,
         |      row_number() OVER (PARTITION BY bv.vec_id, bv.block ORDER BY
         |        ${d2("bv.sv", "c.cv")} ASC, c.cid ASC) AS rn
         |    FROM seedbv bv, $prev c WHERE c.block = bv.block) WHERE rn = 1),
         |m$i AS (
         |  SELECT a.block, a.cid, exb.bpos,
         |    CAST(SUM(CAST(floor(exb.x * 1000000000.0) AS BIGINT)) AS DOUBLE)
         |      / 1000000000.0 / COUNT(*) AS mv
         |  FROM a$i a JOIN exb ON exb.vec_id = a.id AND exb.block = a.block
         |  GROUP BY a.block, a.cid, exb.bpos),
         |cm$i AS (SELECT block, cid, list(mv ORDER BY bpos) AS cv
         |  FROM m$i GROUP BY block, cid),
         |c$i AS (
         |  SELECT * FROM cm$i
         |  UNION ALL
         |  SELECT p.block, p.cid, p.cv FROM $prev p
         |  WHERE NOT EXISTS (SELECT 1 FROM cm$i n
         |    WHERE n.block = p.block AND n.cid = p.cid))""".stripMargin
    s"""e0 AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v0 FROM embeddings),
       |e AS (SELECT vec_id,
       |  CASE WHEN sqrt(list_dot_product(v0, v0)) = 0 THEN v0
       |       ELSE list_transform(v0, x -> x / sqrt(list_dot_product(v0, v0)))
       |  END AS v FROM e0),
       |ex AS (SELECT vec_id, generate_subscripts(v, 1) AS pos,
       |  CAST(unnest(v) AS DOUBLE) AS x FROM e),
       |exb AS (SELECT vec_id, CAST((pos-1)//$bs AS INTEGER) AS block,
       |  CAST((pos-1)%$bs AS INTEGER) AS bpos, x FROM ex),
       |bv AS (SELECT vec_id, block, list(x ORDER BY bpos) AS sv
       |  FROM exb GROUP BY 1, 2),
       |seedbv AS (SELECT * FROM bv WHERE $trainWhere),
       |c0 AS (SELECT block, vec_id AS cid, sv AS cv FROM seedbv
       |  WHERE vec_id IN
       |    (SELECT vec_id FROM e WHERE $trainWhere ORDER BY vec_id LIMIT $k)),
       |${(1 to iters).map(i => round(s"c${i - 1}", i)).mkString(",\n")},
       |cb AS (SELECT block, cid, cv,
       |  CAST(row_number() OVER (PARTITION BY block ORDER BY cid) - 1 AS INTEGER)
       |    AS code FROM c$iters),
       |enc AS (
       |  SELECT id, block, code FROM (
       |    SELECT bv.vec_id AS id, bv.block, cb.code,
       |      row_number() OVER (PARTITION BY bv.vec_id, bv.block ORDER BY
       |        ${d2("bv.sv", "cb.cv")} ASC, cb.code ASC) AS rn
       |    FROM bv, cb WHERE cb.block = bv.block) WHERE rn = 1),
       |lut AS (
       |  SELECT q.vec_id AS qid, cb.block, cb.code,
       |    CAST(floor((${d2("q.sv", "cb.cv")}) * 1000000000.0) AS BIGINT) AS fix
       |  FROM bv q JOIN cb ON cb.block = q.block WHERE q.vec_id < $nQueries),
       |scored AS (
       |  SELECT l.qid, enc.id AS vec_id, SUM(l.fix) AS adc_fix
       |  FROM enc JOIN lut l ON l.block = enc.block AND l.code = enc.code
       |  WHERE enc.id <> l.qid GROUP BY 1, 2)""".stripMargin
  }
}
