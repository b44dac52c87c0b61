package graft
package queries

import org.apache.spark.sql.functions._
import graft.dedup.Dedup
import graft.mm.Multimodal
import graft.sim.{Ann, Jl}

/** Vector similarity queries: LSH, IVF, k-means, PQ and JL nearest
  * neighbours, quantization, whitening, bitext mining and multimodal
  * decoding — [[graft.sim]] and [[graft.mm]]. */
object SimQueries {
  import Tables._
  import Builds.{pqIndexTable, pqAppendedIndexTable, ivfIndexTable, ivfAppendedIndexTable}

  /** q104/q105's pinned JL sign matrix (64-d → 32-d): one driver-side
    * splitmix64 sweep, inlined as literals into the Spark plan and
    * the DuckDB oracle alike. Half the input dimensionality — the
    * measured ranking-fidelity ceiling on this NEAR-ISOTROPIC
    * synthetic corpus (median pairwise cosine ≈ 0, docs/RECALL.md
    * notes) already binds at 32; deeper cuts are for corpora with low
    * intrinsic dimension. */
  private[graft] val jlSigns: Array[Array[Int]] =
    Jl.signMatrix(seed = 0x6a1L, kDims = 32, dim = 64)

  /** Shared q104/q105 oracle CTEs: the Pq entry normalization (one
    * sqrt + one division per element, both single IEEE ops), q75's
    * ties-away round into 2^14 fixed point, then the projection under
    * [[jlSigns]]. */
  private lazy val jlProjectionCtes: String =
    s"""e0 AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v0
       |  FROM embeddings),
       |nv AS (SELECT vec_id,
       |  CASE WHEN sqrt(list_dot_product(v0, v0)) = 0 THEN v0
       |       ELSE list_transform(v0,
       |         x -> x / sqrt(list_dot_product(v0, v0))) END AS v
       |  FROM e0),
       |ql AS (SELECT vec_id,
       |  list_transform(v, x -> CAST(round(x * 16384.0) AS INTEGER)) AS q
       |  FROM nv),
       |p AS (${Jl.projectionSql(jlSigns, "ql")})""".stripMargin

  /** Deterministic-Lloyd k-means replay for the q48/q58 oracles.
    * Every stage of `Ann.kmeansCentroids` is SQL-exact: the init is
    * the 256 lowest-id vectors; assignment argmax ties (csim DESC,
    * cid ASC) are a row_number; the means are the FIXED-POINT image —
    * `cast(sum(floor(x*1e9)) as double) / 1e9 / n`, exact integer sum
    * then two pinned-order IEEE divisions, the same replay the green
    * q53 oracle uses — and empty cells retain their previous centroid.
    * Emits CTEs e, ex, c0, then a<i>/m<i>/cm<i>/c<i> per round; the
    * final centroids are `c<rounds>`. */
  private def kmeansCteSql(rounds: Int): String = {
    def round(prev: String, i: Int): String =
      s"""a$i AS (
         |  SELECT id, cid FROM (
         |    SELECT e.vec_id AS id, c.cid,
         |      row_number() OVER (PARTITION BY e.vec_id ORDER BY
         |        list_dot_product(e.v, c.cv) /
         |          (sqrt(list_dot_product(e.v, e.v)) * sqrt(list_dot_product(c.cv, c.cv))) DESC,
         |        c.cid ASC) AS rn
         |    FROM e, $prev c) WHERE rn = 1),
         |m$i AS (
         |  SELECT a.cid, ex.pos,
         |    CAST(SUM(CAST(floor(ex.x * 1000000000.0) AS BIGINT)) AS DOUBLE)
         |      / 1000000000.0 / COUNT(*) AS mv
         |  FROM a$i a JOIN ex ON ex.vec_id = a.id
         |  GROUP BY a.cid, ex.pos),
         |cm$i AS (SELECT cid, list(mv ORDER BY pos) AS cv FROM m$i GROUP BY cid),
         |c$i AS (
         |  SELECT * FROM cm$i
         |  UNION ALL
         |  SELECT p.cid, p.cv FROM $prev p
         |  WHERE p.cid NOT IN (SELECT cid FROM cm$i))""".stripMargin
    s"""e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
       |ex AS (SELECT vec_id, generate_subscripts(v, 1) AS pos,
       |  CAST(unnest(v) AS DOUBLE) AS x FROM e),
       |c0 AS (SELECT vec_id AS cid, v AS cv FROM e ORDER BY vec_id LIMIT 256),
       |${(1 to rounds).map(i => round(s"c${i - 1}", i)).mkString(",\n")}""".stripMargin
  }

  /** Hyperplane-LSH plane replay for the q23/q25/q92 oracles: the
    * planes come from `scala.util.Random(seed)` = java.util.Random's
    * 48-bit LCG, replayed EXACTLY in DuckDB integer arithmetic —
    * `seed' = (seed * 0x5DEECE66D + 0xB) mod 2^48`, scrambled init,
    * nextDouble = ((next(26) << 27) + next(27)) / 2^53 (every step
    * exact: the 53-bit integer, the power-of-two divide, and the
    * *2−1 rescale are all representable). One chain per table at
    * seed 42+t (`Vectors.seededPlanes` / `Ann.planeTables`), draws in
    * plane-major order, plane vectors reassembled with
    * `list(w ORDER BY pos)` so `list_dot_product`'s fold order matches
    * the Spark side's ordered-fold `DotProductD` bit for bit.
    * Emits CTEs: lcg → draws → planes(t, p, pw) → e(vec_id, v). */
  private def lshPlanesCte(nTables: Int, nPlanes: Int, dim: Int): String =
    s"""lcg(t, i, state) AS (
       |  SELECT t, 0, CAST(xor(42 + t, 25214903917) & 281474976710655 AS BIGINT)
       |  FROM range($nTables) r(t)
       |  UNION ALL
       |  SELECT t, i+1, CAST((CAST(state AS HUGEINT) * 25214903917 + 11) % 281474976710656 AS BIGINT)
       |  FROM lcg WHERE i < ${2 * nPlanes * dim}
       |),
       |draws AS (
       |  SELECT a.t, CAST((a.i-1)//2 AS INT) AS d,
       |    CAST(((a.state >> 22) * 134217728 + (b.state >> 21)) AS DOUBLE)
       |      / 9007199254740992.0 * 2 - 1 AS w
       |  FROM lcg a JOIN lcg b ON b.t = a.t AND b.i = a.i + 1
       |  WHERE a.i % 2 = 1),
       |planes AS (
       |  SELECT t, d // $dim AS p, list(w ORDER BY d % $dim) AS pw
       |  FROM draws GROUP BY t, d // $dim),
       |e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings)""".stripMargin

  /** ONE IVF ground truth consumed by q42 (inline) and q77 (persisted
    * index) — the two forms are bit-identical by construction. */
  private val ivfOracleSql =
    """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
      |c AS (SELECT vec_id AS cid, v AS cv FROM e ORDER BY vec_id LIMIT 16),
      |ranked AS (
      |  SELECT e.vec_id, e.v, c.cid,
      |    row_number() OVER (PARTITION BY e.vec_id ORDER BY
      |      list_dot_product(e.v, c.cv) /
      |        (sqrt(list_dot_product(e.v, e.v)) * sqrt(list_dot_product(c.cv, c.cv)))
      |      DESC, c.cid) AS crank
      |  FROM e, c),
      |lists AS (SELECT vec_id, v, cid AS list_id FROM ranked WHERE crank = 1),
      |probes AS (SELECT vec_id AS qid, v AS qv, cid AS list_id
      |  FROM ranked WHERE vec_id < 8 AND crank <= 4),
      |scored AS (
      |  SELECT p.qid, l.vec_id,
      |    list_dot_product(p.qv, l.v) /
      |      (sqrt(list_dot_product(p.qv, p.qv)) * sqrt(list_dot_product(l.v, l.v)))
      |      AS sim
      |  FROM probes p JOIN lists l ON p.list_id = l.list_id
      |  WHERE l.vec_id <> p.qid)
      |SELECT qid, vec_id, sim, CAST(rnk AS INTEGER) AS rank FROM (
      |  SELECT qid, vec_id, sim,
      |    row_number() OVER (PARTITION BY qid ORDER BY sim DESC, vec_id) AS rnk
      |  FROM scored) WHERE rnk <= 5""".stripMargin

  val specs: Seq[QuerySpec] = Seq(
    // Multimodal metadata through the typed mapPartitions path
    // (payload bytes + SHA-256 checksum; codec itself is stubbed).
    QuerySpec("q18_multimodal_meta")((s, dir) => {
      Multimodal.extractFeatures(Multimodal.asMedia(documents(s, dir)))
        .toDF()
        .select(col("doc_id"), col("media_type"), col("n_bytes"), col("checksum"))
    })(
      """SELECT doc_id,
        | CASE WHEN doc_id % 3 = 0 THEN 'image'
        |      WHEN doc_id % 3 = 1 THEN 'audio' ELSE 'video' END AS media_type,
        | CAST(octet_length(encode(text)) AS INTEGER) AS n_bytes,
        | sha256(text) AS checksum
        |FROM documents""".stripMargin),

    // Brute-force cosine top-k (exact ANN baseline).
    QuerySpec("q19_ann_topk")((s, dir) => {
      val e = embeddings(s, dir)
      Ann.bruteForceTopK(e, e.filter(col("vec_id") < 8), k = 5)
    })(
      """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        |q AS (SELECT vec_id AS qid, v AS qv FROM e WHERE vec_id < 8),
        |scored AS (
        |  SELECT q.qid, e.vec_id,
        |    list_dot_product(q.qv, e.v) /
        |      (sqrt(list_dot_product(q.qv, q.qv)) * sqrt(list_dot_product(e.v, e.v)))
        |      AS sim
        |  FROM q, e WHERE e.vec_id <> q.qid)
        |SELECT qid, vec_id, sim, CAST(rnk AS INTEGER) AS rank FROM (
        |  SELECT qid, vec_id, sim,
        |    row_number() OVER (PARTITION BY qid ORDER BY sim DESC, vec_id) AS rnk
        |  FROM scored) WHERE rnk <= 5""".stripMargin),

    // (not rows-only since r5: the stub codec is a pure function of the
    // payload bytes and the corpus text is ASCII, so the q51-style
    // hashCode-replay oracle applies to the whole decode path)
    QuerySpec("q22_multimodal_decode")((s, dir) =>
      Multimodal.extractFeatures(Multimodal.asMedia(documents(s, dir))).toDF())(
      // The q51 hashCode-replay oracle over the documents corpus: the
      // media payload is the (ASCII) text's UTF-8 bytes, so every stub
      // feature is reproducible from the text column — see q51's oracle
      // for the arithmetic derivation.
      """WITH hashed AS (
        |  SELECT doc_id,
        |    CASE doc_id % 3 WHEN 0 THEN 'image' WHEN 1 THEN 'audio'
        |      ELSE 'video' END AS media_type,
        |    CAST(length(text) AS INT) AS n_bytes,
        |    sha256(text) AS checksum,
        |    list_reduce(
        |      list_prepend(CAST(1 AS BIGINT),
        |        list_transform(range(1, length(text) + 1),
        |          j -> CAST(ascii(substr(text, j, 1)) AS BIGINT))),
        |      (h, b) -> (31 * h + b) % 4294967296) AS hu
        |  FROM documents
        |)
        |SELECT doc_id, media_type, n_bytes, checksum,
        |  CAST(64 + (hu % 1024) AS INT) AS width,
        |  CAST(64 + ((hu // 1024) % 1024) AS INT) AS height,
        |  CAST(CASE WHEN media_type = 'video'
        |    THEN 1 + ((((hu // 1048576) - 4096 *
        |      (CASE WHEN hu >= 2147483648 THEN 1 ELSE 0 END)) % 240)
        |      + 240) % 240
        |    ELSE 1 END AS INT) AS n_frames,
        |  (hu % 256) / 255.0 AS mean_intensity
        |FROM hashed""".stripMargin),

    // Banded hyperplane-LSH near-dups, FULLY oracle-gated since r8:
    // the seeded planes are a java.util.Random LCG the oracle replays
    // exactly in DuckDB integer arithmetic (see lshPlanesCte), so the
    // whole chain — 12×3 sign bits, band collisions, exact-cosine
    // verify — hash-compares. Recall vs brute force stays a separate
    // QUALITY bound (RECALL.md + RecallSpec): the oracle proves the
    // LSH computed what it declares, the recall floor proves what it
    // declares is a good approximation.
    QuerySpec("q23_embedding_neardup")((s, dir) =>
      Dedup.embeddingPairs(embeddings(s, dir), "vec_id", "embedding",
        threshold = 0.3, planesPerBand = 3, bands = 12))(
      // Banded hyperplane LSH near-dup replayed END TO END: the LCG
      // plane replay (see lshPlanesCte) feeds 12 bands × 3 sign bits
      // (single chain, band = p/3, bit = p%3), candidates collide in any
      // band, exact cosine ≥ 0.3 verifies — every double along the way
      // is a single correctly-rounded IEEE op in both engines. The flood
      // cap (maxBucket=10000) cannot trip at the gate scale (≤500 rows
      // per bucket), so the oracle omits it.
      s"""WITH RECURSIVE ${lshPlanesCte(1, 36, 64)},
         |bits AS (
         |  SELECT e.vec_id, CAST(p.p // 3 AS INT) AS bno,
         |    CASE WHEN list_dot_product(e.v, p.pw) > 0
         |         THEN CAST(1 << CAST(p.p % 3 AS INT) AS BIGINT) ELSE 0 END AS bit
         |  FROM e, planes p),
         |sigs AS (SELECT vec_id, bno, SUM(bit) AS sig FROM bits GROUP BY vec_id, bno),
         |cand AS (
         |  SELECT DISTINCT a.vec_id AS id_a, b.vec_id AS id_b
         |  FROM sigs a JOIN sigs b ON a.bno = b.bno AND a.sig = b.sig
         |    AND a.vec_id < b.vec_id),
         |scored AS (
         |  SELECT c.id_a, c.id_b,
         |    list_dot_product(ea.v, eb.v) /
         |      (sqrt(list_dot_product(ea.v, ea.v)) * sqrt(list_dot_product(eb.v, eb.v))) AS cosine
         |  FROM cand c JOIN e ea ON ea.vec_id = c.id_a JOIN e eb ON eb.vec_id = c.id_b)
         |SELECT id_a, id_b, cosine FROM scored WHERE cosine >= 0.3""".stripMargin),

    // Multi-table multi-probe LSH top-k, FULLY oracle-gated since r8
    // (LCG plane replay + Hamming-1 probe set in SQL); recall vs brute
    // force stays the RECALL.md/RecallSpec quality bound.
    QuerySpec("q25_ann_lsh")((s, dir) => {
      val e = embeddings(s, dir)
      Ann.lshTopK(e, e.filter(col("vec_id") < 8), k = 5,
        nPlanes = 4, nTables = 6)
    })(
      // Multi-table multi-probe LSH top-k replayed end to end: 6 tables
      // of 4 sign bits at seeds 42..47, each query probes its own bucket
      // plus every 1-bit flip, candidates verify by exact cosine, same
      // (sim DESC, id ASC) tie rule as the Spark window.
      s"""WITH RECURSIVE ${lshPlanesCte(6, 4, 64)},
         |buckets AS (
         |  SELECT e.vec_id, CAST(p.t AS INT) AS tbl,
         |    SUM(CASE WHEN list_dot_product(e.v, p.pw) > 0
         |        THEN CAST(1 << CAST(p.p AS INT) AS BIGINT) ELSE 0 END) AS bucket
         |  FROM e, planes p GROUP BY e.vec_id, p.t),
         |qb AS (SELECT vec_id AS qid, tbl, bucket FROM buckets WHERE vec_id < 8),
         |probes AS (
         |  SELECT qid, tbl, bucket FROM qb
         |  UNION ALL
         |  SELECT qid, tbl, xor(bucket, CAST(1 << CAST(j AS INT) AS BIGINT)) AS bucket
         |  FROM qb, range(4) rj(j)),
         |cand AS (
         |  SELECT DISTINCT p.qid, c.vec_id AS id
         |  FROM buckets c JOIN probes p ON c.tbl = p.tbl AND c.bucket = p.bucket
         |  WHERE c.vec_id <> p.qid),
         |scored AS (
         |  SELECT cd.qid, cd.id,
         |    list_dot_product(eq.v, ec.v) /
         |      (sqrt(list_dot_product(eq.v, eq.v)) * sqrt(list_dot_product(ec.v, ec.v))) AS sim
         |  FROM cand cd JOIN e eq ON eq.vec_id = cd.qid JOIN e ec ON ec.vec_id = cd.id)
         |SELECT qid, id AS vec_id, sim, CAST(rnk AS INTEGER) AS rank FROM (
         |  SELECT qid, id, sim,
         |    row_number() OVER (PARTITION BY qid ORDER BY sim DESC, id) AS rnk
         |  FROM scored) WHERE rnk <= 5""".stripMargin),

    // IVF inverted-list ANN — deterministic (lowest-id centroids,
    // cosine ties by centroid id), so unlike the LSH family it gets a
    // full DuckDB oracle reproducing the list assignment + probes.
    QuerySpec("q42_ann_ivf")((s, dir) => {
      val e = embeddings(s, dir)
      Ann.ivfTopK(e, e.filter(col("vec_id") < 8), k = 5,
        nCentroids = 16, nProbe = 4)
    })(
      // IVF: centroids = 16 lowest-id vectors; every vector joins its
      // single nearest list, each query probes its 4 nearest lists; exact
      // cosine top-5 within the probed lists. Same dot-product arithmetic
      // as q19, so the sim doubles hash-match.
      ivfOracleSql),

    // IVF with distributed Lloyd k-means coarse quantization — the
    // data-adaptive upgrade of q42: 16× finer lists at the SAME 25%
    // scan fraction (nProbe/nCentroids = 64/256 = 4/16), which is
    // where IVF recall actually comes from (measured 0.975 vs q42's
    // 0.925 at both spec scales — docs/RECALL.md; spread-seed inits
    // measured strictly worse, see kmeansCentroids scaladoc).
    // FULLY oracle-gated since r8: the Lloyd means are the FIXED-POINT
    // image (exact integer sums + pinned-order divisions), so two
    // unrolled rounds replay bit-for-bit in DuckDB (kmeansCteSql).
    QuerySpec("q48_ann_ivf_kmeans")((s, dir) => {
      val e = embeddings(s, dir)
      Ann.ivfTopK(e, e.filter(col("vec_id") < 8), k = 5, nProbe = 64,
        centroids0 = Some(Ann.kmeansCentroids(e, k = 256, iters = 2)))
    })(
      s"""WITH ${kmeansCteSql(2)},
         |lists AS (
         |  SELECT id, cid AS list_id FROM (
         |    SELECT e.vec_id AS id, c.cid,
         |      row_number() OVER (PARTITION BY e.vec_id ORDER BY
         |        list_dot_product(e.v, c.cv) /
         |          (sqrt(list_dot_product(e.v, e.v)) * sqrt(list_dot_product(c.cv, c.cv))) DESC,
         |        c.cid ASC) AS rn
         |    FROM e, c2 c) WHERE rn = 1),
         |probes AS (
         |  SELECT qid, cid AS list_id FROM (
         |    SELECT e.vec_id AS qid, c.cid,
         |      row_number() OVER (PARTITION BY e.vec_id ORDER BY
         |        list_dot_product(e.v, c.cv) /
         |          (sqrt(list_dot_product(e.v, e.v)) * sqrt(list_dot_product(c.cv, c.cv))) DESC,
         |        c.cid ASC) AS rn
         |    FROM e, c2 c WHERE e.vec_id < 8) WHERE rn <= 64),
         |scored AS (
         |  SELECT p.qid, l.id,
         |    list_dot_product(eq.v, ec.v) /
         |      (sqrt(list_dot_product(eq.v, eq.v)) * sqrt(list_dot_product(ec.v, ec.v))) AS sim
         |  FROM lists l JOIN probes p ON l.list_id = p.list_id AND l.id <> p.qid
         |  JOIN e eq ON eq.vec_id = p.qid JOIN e ec ON ec.vec_id = l.id)
         |SELECT qid, id AS vec_id, sim, CAST(rnk AS INTEGER) AS rank FROM (
         |  SELECT qid, id, sim,
         |    row_number() OVER (PARTITION BY qid ORDER BY sim DESC, id) AS rnk
         |  FROM scored) WHERE rnk <= 5""".stripMargin),

    // Product-quantization ADC ANN (sim.Pq): 16 subspaces × 64-entry
    // codebooks (2 subspace-Lloyd rounds, fixed-point means; config
    // picked by the measured recall sweep — coarser grids collapse on
    // the near-uniform unit-sphere corpus, the hardest PQ case),
    // corpus stored as 16 code bytes/vector, queries scored by integer
    // LUT sums (AdcSumL kernel — one call per pair). FULLY
    // oracle-gated: train → encode → ADC ranking replays bit-for-bit
    // in DuckDB (Pq.adcOracleSql — the q48 Lloyd replay discipline
    // extended to per-block codebooks and an order-free integer sum).
    // The declared query reads the PERSISTED index (pqIndexTable —
    // train + encode paid once, the q77 build-once discipline) and
    // runs the pure ADC scan; parquet round-trips binary64/int arrays
    // exactly, so persistence is bit-neutral and the oracle replays
    // the full inline train → encode → scan.
    QuerySpec("q96_pq_adc")((s, dir) => {
      val (cat, prefix) = pqIndexTable(s, dir)
      graft.sim.Pq.adcTopK(
        cat.read(s, s"${prefix}_codes"),
        embeddings(s, dir).filter(col("vec_id") < 8),
        cat.read(s, s"${prefix}_codebooks"),
        m = 16, dim = 64, topK = 5)
    })(
      // IVF over k-means centroids replayed end to end: two
      // deterministic Lloyd rounds (see kmeansCteSql) rebuild the 256
      // centroids bit-for-bit, then list assignment, 64-probe selection
      // and the final top-5 all use the same (cosine DESC, id ASC)
      // arithmetic the green q42/q77 oracle already pins.
      // Oracle built by the operator itself (sim.Pq) — subspace Lloyd,
      // encode, and the integer ADC sum in one replay.
      graft.sim.Pq.adcOracleSql(m = 16, k = 64, dim = 64, iters = 2,
        nQueries = 8, topK = 5)),

    // Appendable PQ index: codebooks trained on the 90% seed, the
    // held-out 10% encoded against the FROZEN codebooks and appended
    // — daily upkeep is one delta-sized job, the index never
    // re-encodes; ADC stays exact w.r.t. the declared codebooks
    // (drift erodes fineness, not correctness). Oracle replays the
    // exact protocol: Lloyd restricted to the seed slice, encoding
    // and scoring over everything.
    QuerySpec("q98_pq_append")((s, dir) => {
      val (cat, prefix) = pqAppendedIndexTable(s, dir)
      graft.sim.Pq.adcTopK(
        cat.read(s, s"${prefix}_codes"),
        embeddings(s, dir).filter(col("vec_id") < 8),
        cat.read(s, s"${prefix}_codebooks"),
        m = 16, dim = 64, topK = 5)
    })(
      // The build-then-append protocol's exact replay: Lloyd over the
      // seed slice only, encode/score over the full corpus.
      graft.sim.Pq.adcOracleSql(m = 16, k = 64, dim = 64, iters = 2,
        nQueries = 8, topK = 5, trainWhere = "vec_id % 10 <> 0")),

    // The full IVFADC composition (FAISS IVFPQ, off persisted
    // artifacts only): q77's inverted lists bound WHICH vectors are
    // scored (probe 4 of 16 lists), q96's PQ codes make scoring them
    // cheap (integer ADC shortlist-20), the exact cosine rerank
    // restores exactness at the top. Per query ≈ 25% of the corpus as
    // code lookups + 20 full-width vectors.
    QuerySpec("q99_ivfpq")((s, dir) => {
      val (icat, iprefix) = ivfIndexTable(s, dir)
      val (pcat, pprefix) = pqIndexTable(s, dir)
      val e = embeddings(s, dir)
      val q = e.filter(col("vec_id") < 8)
      val probes = graft.sim.Ann.probeLists(q,
        icat.read(s, s"${iprefix}_centroids"), nProbe = 4)
      val candidates = icat.read(s, s"${iprefix}_lists")
        .select(col("id").as("vec_id"), col("list_id"))
        .join(broadcast(probes), Seq("list_id"))
      graft.sim.Pq.ivfAdcRerankTopK(e, candidates,
        pcat.read(s, s"${pprefix}_codes"), q,
        pcat.read(s, s"${pprefix}_codebooks"),
        m = 16, dim = 64, shortlist = 20, topK = 5)
    })(
      // ADC CTEs + q42-shape IVF assignment + probed-list candidates +
      // integer shortlist + exact rerank, in one replay.
      graft.sim.Pq.ivfAdcRerankOracleSql(m = 16, k = 64, dim = 64,
        iters = 2, nQueries = 8, nCentroids = 16, nProbe = 4,
        shortlist = 20, topK = 5)),

    // The production PQ shape: ADC shortlist-50 + exact cosine rerank
    // (recall 0.625 → 0.975 vs the float truth, docs/RECALL.md) —
    // wide vectors touched only for the shortlist ids.
    QuerySpec("q97_pq_rerank")((s, dir) => {
      val (cat, prefix) = pqIndexTable(s, dir)
      val e = embeddings(s, dir)
      graft.sim.Pq.adcRerankTopK(e,
        cat.read(s, s"${prefix}_codes"),
        e.filter(col("vec_id") < 8),
        cat.read(s, s"${prefix}_codebooks"),
        m = 16, dim = 64, shortlist = 50, topK = 5)
    })(
      // Shared CTEs + shortlist + exact cosine rerank.
      graft.sim.Pq.adcRerankOracleSql(m = 16, k = 64, dim = 64, iters = 2,
        nQueries = 8, shortlist = 50, topK = 5)),

    // Self k-NN graph, EXACT form (Ann.exactKnnGraph): every vector's
    // k true nearest neighbors — recall 1.0 by construction, full
    // DuckDB oracle (all-pairs cosine + rank). The corpus broadcasts
    // against itself, which is the right plan precisely when exact
    // ground truth is computable at all; the LSH-bucketed twin q92 is
    // the 100 TB path (same schema/ties, recall measured in RECALL.md).
    QuerySpec("q65_knn_graph")((s, dir) =>
      graft.sim.Ann.exactKnnGraph(embeddings(s, dir), k = 5))(
      // q19's all-pairs shape with every vector as a query — the exact
      // self k-NN graph; same double-cast dot-product parity, same
      // (sim DESC, id ASC) tie rule as the bounded heap's -id field.
      """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        |scored AS (
        |  SELECT q.vec_id AS qid, e.vec_id,
        |    list_dot_product(q.v, e.v) /
        |      (sqrt(list_dot_product(q.v, q.v)) * sqrt(list_dot_product(e.v, e.v)))
        |      AS sim
        |  FROM e q, e WHERE e.vec_id <> q.vec_id)
        |SELECT qid, vec_id, sim, CAST(rnk AS INTEGER) AS rank FROM (
        |  SELECT qid, vec_id, sim,
        |    row_number() OVER (PARTITION BY qid ORDER BY sim DESC, vec_id) AS rnk
        |  FROM scored) WHERE rnk <= 5""".stripMargin),

    // Self k-NN JOIN, LSH form (Ann.knnJoin): symmetric bucket
    // self-join (no broadcastable query side exists when every vector
    // is a query) + the k-bounded heap aggregate for per-vector top-k.
    // FULLY oracle-gated since r8 (LCG plane replay, 16 tables × 3
    // bits, mirror + row_number twin of the heap); graph recall ≥0.95
    // vs q65's exact form stays the RECALL.md/RecallSpec quality bound.
    QuerySpec("q92_knn_graph_lsh")((s, dir) =>
      graft.sim.Ann.knnJoin(embeddings(s, dir), k = 5))(
      // The LSH self k-NN graph replayed end to end: 16 tables × 3 sign
      // bits at seeds 42..57, symmetric bucket collisions (qid < id),
      // each unordered pair scored once and mirrored — cosine(a,b) is
      // bit-identical to cosine(b,a) — then per-vector top-5. The
      // k-bounded heap's tie rule (sim DESC via the struct order, id ASC
      // via the negated-id field) is exactly row_number's here, the same
      // equivalence the oracle-green exact twin q65 already pins.
      s"""WITH RECURSIVE ${lshPlanesCte(16, 3, 64)},
         |buckets AS (
         |  SELECT e.vec_id, CAST(p.t AS INT) AS tbl,
         |    SUM(CASE WHEN list_dot_product(e.v, p.pw) > 0
         |        THEN CAST(1 << CAST(p.p AS INT) AS BIGINT) ELSE 0 END) AS bucket
         |  FROM e, planes p GROUP BY e.vec_id, p.t),
         |cand AS (
         |  SELECT DISTINCT a.vec_id AS qid, b.vec_id AS id
         |  FROM buckets a JOIN buckets b ON a.tbl = b.tbl AND a.bucket = b.bucket
         |  WHERE a.vec_id < b.vec_id),
         |scored AS (
         |  SELECT cd.qid, cd.id,
         |    list_dot_product(eq.v, ec.v) /
         |      (sqrt(list_dot_product(eq.v, eq.v)) * sqrt(list_dot_product(ec.v, ec.v))) AS sim
         |  FROM cand cd JOIN e eq ON eq.vec_id = cd.qid JOIN e ec ON ec.vec_id = cd.id),
         |mirrored AS (
         |  SELECT qid, id, sim FROM scored
         |  UNION ALL SELECT id AS qid, qid AS id, sim FROM scored)
         |SELECT qid, id AS vec_id, sim, CAST(rnk AS INTEGER) AS rank FROM (
         |  SELECT qid, id, sim,
         |    row_number() OVER (PARTITION BY qid ORDER BY sim DESC, id) AS rnk
         |  FROM mirrored) WHERE rnk <= 5""".stripMargin),

    // The same LSH k-NN graph under the PRODUCTION sizing rule
    // (Ann.knnJoinScaled): one extra hyperplane per corpus doubling
    // past the recall-calibrated reference size, holding per-bucket
    // occupancy ~constant. BENCH_SF1 measured the difference — fixed
    // planes fit exponent 1.35–1.42 over 1×–10× corpora, this rule
    // 0.47–0.83 at 2.7–7.4× less wall at 10× (r12/r13 runs) — so the
    // scaled form is the 100 TB path
    // and q92 the fixed-recall-point twin. Oracle computes the SAME
    // integer doubling rule in SQL (rsel) and masks the shared
    // 12-plane LCG prefix down to r bits, exploiting that
    // seededPlanes draws are sequential per table: planes at r are a
    // strict prefix of planes at 12.
    QuerySpec("q188_knn_graph_lsh_scaled")((s, dir) =>
      graft.sim.Ann.knnJoinScaled(embeddings(s, dir), k = 5))(
      // q92's replay under the production sizing rule: the plane CTE
      // generates the 12-plane LCG prefix per table (valid to
      // 2000·2^9 ≈ 1M vectors — far past any oracle-comparison scale),
      // rsel replays Ann.planeDoublings in INTEGER arithmetic
      // (smallest e with 2000·2^e ≥ n — no float log2 to disagree at
      // exact powers of two), and the bucket sum masks each table's
      // planes down to the first r. Past the prefix (r > 12 ⟺ corpus
      // > 2000·2^9) the mask would silently cap while Spark keeps
      // scaling, so rsel ERRORS instead — a loud oracle failure, never
      // a phantom mismatch. Everything downstream is q92's oracle
      // verbatim.
      s"""WITH RECURSIVE ${lshPlanesCte(16, 12, 64)},
         |cnt AS (SELECT COUNT(*) AS n FROM e),
         |rsel AS (
         |  SELECT CASE WHEN 3 + COALESCE(MIN(ee.e), 32) > 12
         |    THEN error('q188 oracle: corpus exceeds the 12-plane CTE prefix (needs r = ' || (3 + COALESCE(MIN(ee.e), 32)) || '); raise lshPlanesCte planes')
         |    ELSE 3 + COALESCE(MIN(ee.e), 32) END AS r
         |  FROM range(0, 33) ee(e), cnt
         |  WHERE 2000 * (CAST(1 AS BIGINT) << ee.e) >= cnt.n),
         |buckets AS (
         |  SELECT e.vec_id, CAST(p.t AS INT) AS tbl,
         |    SUM(CASE WHEN CAST(p.p AS INT) < (SELECT r FROM rsel)
         |             AND list_dot_product(e.v, p.pw) > 0
         |        THEN CAST(1 << CAST(p.p AS INT) AS BIGINT) ELSE 0 END) AS bucket
         |  FROM e, planes p GROUP BY e.vec_id, p.t),
         |cand AS (
         |  SELECT DISTINCT a.vec_id AS qid, b.vec_id AS id
         |  FROM buckets a JOIN buckets b ON a.tbl = b.tbl AND a.bucket = b.bucket
         |  WHERE a.vec_id < b.vec_id),
         |scored AS (
         |  SELECT cd.qid, cd.id,
         |    list_dot_product(eq.v, ec.v) /
         |      (sqrt(list_dot_product(eq.v, eq.v)) * sqrt(list_dot_product(ec.v, ec.v))) AS sim
         |  FROM cand cd JOIN e eq ON eq.vec_id = cd.qid JOIN e ec ON ec.vec_id = cd.id),
         |mirrored AS (
         |  SELECT qid, id, sim FROM scored
         |  UNION ALL SELECT id AS qid, qid AS id, sim FROM scored)
         |SELECT qid, id AS vec_id, sim, CAST(rnk AS INTEGER) AS rank FROM (
         |  SELECT qid, id, sim,
         |    row_number() OVER (PARTITION BY qid ORDER BY sim DESC, id) AS rnk
         |  FROM mirrored) WHERE rnk <= 5""".stripMargin),

    // Matryoshka truncation audit (Ann.matryoshkaRecall): recall@5 of
    // prefix-dim cosine top-5 (d = 8/16/32/64) against the full-width
    // graph on the corpus's own vectors (Kusupati et al. 2022's MRL
    // question: how many dims can we drop before neighbor structure
    // degrades). Integer recall in 1e-6 units; the d=64 row reads
    // exactly 1.0 by construction — a built-in self-check. Eval
    // slice vec_id%5=0, the q65 brute-force regime.
    QuerySpec("q197_matryoshka")((s, dir) =>
      graft.sim.Ann.matryoshkaRecall(
        embeddings(s, dir).filter(col("vec_id") % 5 === 0),
        dims = Seq(8, 16, 32, 64), k = 5))(
      // q65's all-pairs cosine generalized over a dims lateral: per-d
      // prefix slices inside the same (sim DESC, id ASC) rank law, then
      // the d=64 set is the ground truth every d intersects against.
      """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
        |  FROM embeddings WHERE vec_id % 5 = 0),
        |g AS (SELECT d, qid, vec_id FROM (
        |  SELECT d.d, q.vec_id AS qid, e.vec_id,
        |    row_number() OVER (PARTITION BY d.d, q.vec_id ORDER BY
        |      list_dot_product(q.v[1:d.d], e.v[1:d.d]) /
        |        (sqrt(list_dot_product(q.v[1:d.d], q.v[1:d.d]))
        |         * sqrt(list_dot_product(e.v[1:d.d], e.v[1:d.d]))) DESC,
        |      e.vec_id) AS rnk
        |  FROM (SELECT unnest([8, 16, 32, 64]) AS d) d, e q, e
        |  WHERE e.vec_id <> q.vec_id) WHERE rnk <= 5),
        |fg AS (SELECT qid, vec_id FROM g WHERE d = 64),
        |nq AS (SELECT count(DISTINCT qid) AS n_queries FROM fg),
        |h AS (SELECT g.d AS dim, count(*) AS hits
        |  FROM g JOIN fg USING (qid, vec_id) GROUP BY 1)
        |SELECT CAST(dim AS INTEGER) AS dim,
        |  CAST(n_queries AS BIGINT) AS n_queries,
        |  CAST(hits AS BIGINT) AS hits,
        |  CAST(hits * 1000000 // (5 * n_queries) AS BIGINT) AS recall_fp
        |FROM h, nq""".stripMargin),

    // SemDeDup-style semantic dedup (Dedup.semanticDedup): k-means
    // clusters bound the candidate space, within-cluster cosine pairs
    // drop the higher id. FULLY oracle-gated since r8 (kmeansCteSql
    // replay + top-8 cell heap as row_number); pair recall vs the
    // brute-force ground truth stays the RECALL.md/RecallSpec quality
    // bound.
    QuerySpec("q58_semantic_dedup")((s, dir) =>
      graft.dedup.Dedup.semanticDedup(embeddings(s, dir),
          "vec_id", "embedding", threshold = 0.3)
        .select(col("vec_id"), col("label")))(
      // SemDeDup replayed end to end: one Lloyd round rebuilds the 256
      // cells, each vector takes its top-8 cells (the heap's
      // (csim, -cid) tie rule is row_number's rn <= 8 here), pairs
      // sharing any cell verify by exact cosine, and the higher id of
      // every qualifying pair drops.
      s"""WITH ${kmeansCteSql(1)},
         |cells AS (
         |  SELECT vec_id, cid FROM (
         |    SELECT e.vec_id, c.cid,
         |      row_number() OVER (PARTITION BY e.vec_id ORDER BY
         |        list_dot_product(e.v, c.cv) /
         |          (sqrt(list_dot_product(e.v, e.v)) * sqrt(list_dot_product(c.cv, c.cv))) DESC,
         |        c.cid ASC) AS rn
         |    FROM e, c1 c) WHERE rn <= 8),
         |cand AS (
         |  SELECT DISTINCT a.vec_id AS id_a, b.vec_id AS id_b
         |  FROM cells a JOIN cells b ON a.cid = b.cid AND a.vec_id < b.vec_id),
         |losers AS (
         |  SELECT DISTINCT c.id_b AS vec_id
         |  FROM cand c JOIN e ea ON ea.vec_id = c.id_a JOIN e eb ON eb.vec_id = c.id_b
         |  WHERE list_dot_product(ea.v, eb.v) /
         |      (sqrt(list_dot_product(ea.v, ea.v)) * sqrt(list_dot_product(eb.v, eb.v))) >= 0.3)
         |SELECT vec_id, label FROM embeddings
         |WHERE vec_id NOT IN (SELECT vec_id FROM losers)""".stripMargin),

    // JL signed-random-projection ANN (sim.Jl): 64-d floats →
    // L2-normalized 2^14 fixed-point codes → 32 small-int components
    // via a pinned-seed ±1 matrix inlined into plan AND oracle.
    // Projected squared-L2 ranking is exact-integer end to end, so
    // the approximate operator itself hash-gates; fidelity vs the
    // float cosine is the RECALL.md measurement (modest HERE by
    // design — this corpus is near-isotropic, JL's worst ranking
    // regime; see the RECALL.md note).
    QuerySpec("q104_jl_topk")((s, dir) => {
      val e = embeddings(s, dir)
      Jl.topK(e, e.filter(col("vec_id") < 8), k = 5, jlSigns)
    })(
      // q75's quantization in list form + the pinned ±1 matrix rendered
      // as list literals (Jl.projectionSql — the same driver-side array
      // the Spark plan inlines). All-integer distances, one CAST each.
      s"""WITH $jlProjectionCtes,
         |pq AS (SELECT vec_id AS qid, p AS qp FROM p WHERE vec_id < 8),
         |scored AS (SELECT c.vec_id, pq.qid,
         |  CAST(list_dot_product(c.p, c.p)
         |    - 2*list_dot_product(c.p, pq.qp)
         |    + list_dot_product(pq.qp, pq.qp) AS BIGINT) AS dist2
         |  FROM p c, pq WHERE c.vec_id <> pq.qid)
         |SELECT qid, vec_id, dist2, CAST(rnk AS INTEGER) AS rank FROM (
         |  SELECT qid, vec_id, dist2,
         |    row_number() OVER (PARTITION BY qid ORDER BY dist2, vec_id)
         |      AS rnk
         |  FROM scored) WHERE rnk <= 5""".stripMargin),

    // JL shortlist-100 + exact cosine rerank — the production
    // composition (q97's shape with a JL scan instead of ADC): prune
    // with k-int distances at half width, reorder the shortlist with
    // the true cosine. Both stages replayable, so the whole pipe
    // hash-gates.
    QuerySpec("q105_jl_rerank")((s, dir) => {
      val e = embeddings(s, dir)
      Jl.rerankTopK(e, e.filter(col("vec_id") < 8), k = 5,
        shortlist = 100, jlSigns)
    })(
      // The composition: q104's integer shortlist (50), then q19's
      // float-cosine arithmetic on shortlist rows only.
      s"""WITH $jlProjectionCtes,
         |pq AS (SELECT vec_id AS qid, p AS qp FROM p WHERE vec_id < 8),
         |sl AS (SELECT qid, vec_id FROM (
         |  SELECT pq.qid, c.vec_id,
         |    row_number() OVER (PARTITION BY pq.qid ORDER BY
         |      CAST(list_dot_product(c.p, c.p)
         |        - 2*list_dot_product(c.p, pq.qp)
         |        + list_dot_product(pq.qp, pq.qp) AS BIGINT),
         |      c.vec_id) AS rnk
         |  FROM p c, pq WHERE c.vec_id <> pq.qid) WHERE rnk <= 100),
         |e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
         |  FROM embeddings),
         |q AS (SELECT vec_id AS qid, v AS qv FROM e WHERE vec_id < 8),
         |scored AS (SELECT sl.qid, sl.vec_id,
         |  list_dot_product(q.qv, e.v) /
         |    (sqrt(list_dot_product(q.qv, q.qv))
         |      * sqrt(list_dot_product(e.v, e.v))) AS sim
         |  FROM sl JOIN e ON e.vec_id = sl.vec_id JOIN q ON q.qid = sl.qid)
         |SELECT qid, vec_id, sim, CAST(rnk AS INTEGER) AS rank FROM (
         |  SELECT qid, vec_id, sim,
         |    row_number() OVER (PARTITION BY qid ORDER BY sim DESC, vec_id)
         |      AS rnk
         |  FROM scored) WHERE rnk <= 5""".stripMargin),

    // Semantic eval-set decontamination (sim.Ann.semanticDecon): the
    // embedding-side leakage gate — every train vector's hit count
    // against the held-out probe set at cosine >= 0.35, kept = zero
    // hits. Probes (vec_id % 10 == 0) broadcast; one corpus pass;
    // total frame with verdicts (funnel accounting).
    QuerySpec("q124_semantic_decon")((s, dir) => {
      val e = embeddings(s, dir)
      graft.sim.Ann.semanticDecon(
        e.filter(col("vec_id") % 10 =!= 0),
        e.filter(col("vec_id") % 10 === 0), threshold = 0.35)
    })(
      // The q65 cosine replay split train/probe: hit counts against
      // the held-out side, left-joined back so zero-hit rows survive.
      """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        |t AS (SELECT vec_id, v FROM e WHERE vec_id % 10 = 0),
        |c AS (SELECT vec_id, v FROM e WHERE vec_id % 10 <> 0),
        |h AS (
        |  SELECT c.vec_id, count(*) AS n
        |  FROM c, t
        |  WHERE list_dot_product(c.v, t.v) /
        |    (sqrt(list_dot_product(c.v, c.v)) * sqrt(list_dot_product(t.v, t.v)))
        |    >= 0.35
        |  GROUP BY c.vec_id)
        |SELECT c.vec_id, CAST(COALESCE(h.n, 0) AS BIGINT) AS n_hits,
        |  COALESCE(h.n, 0) = 0 AS kept
        |FROM c LEFT JOIN h ON h.vec_id = c.vec_id""".stripMargin),

    // Per-probe leakage report (sim.Ann.probeLeakage): the q124 gate
    // transposed — per EVAL item, its corpus near-neighbor count and
    // the clean verdict; the report that drops compromised benchmark
    // items instead of scrubbing the corpus.
    QuerySpec("q142_probe_leakage")((s, dir) => {
      val e = embeddings(s, dir)
      graft.sim.Ann.probeLeakage(
        e.filter(col("vec_id") % 10 =!= 0),
        e.filter(col("vec_id") % 10 === 0), threshold = 0.35)
    })(
      // The q124 CTEs grouped by the PROBE side.
      """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        |t AS (SELECT vec_id, v FROM e WHERE vec_id % 10 = 0),
        |c AS (SELECT vec_id, v FROM e WHERE vec_id % 10 <> 0),
        |h AS (
        |  SELECT t.vec_id, count(*) AS n
        |  FROM c, t
        |  WHERE list_dot_product(c.v, t.v) /
        |    (sqrt(list_dot_product(c.v, c.v)) * sqrt(list_dot_product(t.v, t.v)))
        |    >= 0.35
        |  GROUP BY t.vec_id)
        |SELECT t.vec_id, CAST(COALESCE(h.n, 0) AS BIGINT) AS n_hits,
        |  COALESCE(h.n, 0) = 0 AS clean
        |FROM t LEFT JOIN h ON h.vec_id = t.vec_id""".stripMargin),

    // Hard-negative mining (sim.Ann.hardNegatives): per anchor vector
    // the top-5 most-similar vectors with a DIFFERENT label — the
    // contrastive-training negatives. Anchors (vec_id % 10 == 0)
    // broadcast; label inequality pre-filters BEFORE the k-bounded
    // heap, so groups never under-fill.
    QuerySpec("q126_hard_negatives")((s, dir) => {
      val e = embeddings(s, dir)
      graft.sim.Ann.hardNegatives(e,
        e.filter(col("vec_id") % 10 === 0), k = 5)
    })(
      // q65's ranking with the label-inequality predicate — the exact
      // hard-negative ground truth.
      """WITH e AS (SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        |q AS (SELECT vec_id, label, v FROM e WHERE vec_id % 10 = 0),
        |scored AS (
        |  SELECT q.vec_id AS qid, e.vec_id,
        |    list_dot_product(q.v, e.v) /
        |      (sqrt(list_dot_product(q.v, q.v)) * sqrt(list_dot_product(e.v, e.v)))
        |      AS sim
        |  FROM q, e WHERE e.label <> q.label)
        |SELECT qid, vec_id, sim, CAST(rnk AS INTEGER) AS rank FROM (
        |  SELECT qid, vec_id, sim,
        |    row_number() OVER (PARTITION BY qid ORDER BY sim DESC, vec_id) AS rnk
        |  FROM scored) WHERE rnk <= 5""".stripMargin),

    // Centroid-distance outlier pruning (sim.Outliers
    // .centroidOutliers): top-3 farthest vectors from their label
    // centroid, ranked by the division-free integer key
    // n*<x,x> - 2*<x,s> over fixed-point codes — exact cross-engine,
    // two corpus scans, centroids broadcast.
    QuerySpec("q127_centroid_outliers")((s, dir) =>
      graft.sim.Outliers.centroidOutliers(embeddings(s, dir), topN = 3))(
      // The division-free centroid-distance key in pure integer SQL:
      // same fixed-point codes (floor(v*1e4)), exact sums, n*<x,x>-2<x,s>.
      """WITH e AS (SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        |flat AS (SELECT vec_id, label,
        |  unnest(generate_series(1, len(v))) AS pos, v FROM e),
        |xf AS (SELECT vec_id, label, pos,
        |  CAST(floor(v[pos] * 10000.0) AS BIGINT) AS xv FROM flat),
        |sums AS (SELECT label, pos, sum(xv) AS sv FROM xf GROUP BY label, pos),
        |n AS (SELECT label, count(*) AS n FROM e GROUP BY label),
        |per AS (
        |  SELECT x.vec_id, x.label,
        |    sum(x.xv * x.xv) AS xx, sum(x.xv * s.sv) AS xs
        |  FROM xf x JOIN sums s ON s.label = x.label AND s.pos = x.pos
        |  GROUP BY x.vec_id, x.label),
        |sc AS (
        |  SELECT p.label, p.vec_id, n.n * p.xx - 2 * p.xs AS score
        |  FROM per p JOIN n ON n.label = p.label)
        |SELECT label, vec_id, CAST(score AS BIGINT) AS score,
        |  CAST(rnk AS INTEGER) AS rank
        |FROM (SELECT label, vec_id, score,
        |  row_number() OVER (PARTITION BY label ORDER BY score DESC, vec_id) AS rnk
        |  FROM sc)
        |WHERE rnk <= 3""".stripMargin),

    // Per-dimension whitening moments (sim.Whitening.dimMoments):
    // exact long (n, Σx, Σx²) over fixed-point codes, one corpus scan
    // through the map-combinable vector aggregate — |partitions|
    // buffers shuffle, never rows.
    QuerySpec("q130_dim_moments")((s, dir) =>
      graft.sim.Whitening.dimMoments(embeddings(s, dir)))(
      // The q127 fixed-point codes, second moment added.
      """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        |flat AS (SELECT vec_id,
        |  unnest(generate_series(1, len(v))) AS pos, v FROM e),
        |xf AS (SELECT pos, CAST(floor(v[pos] * 10000.0) AS BIGINT) AS xv
        |  FROM flat)
        |SELECT CAST(pos - 1 AS INTEGER) AS dim,
        |  count(*) AS n, CAST(sum(xv) AS BIGINT) AS s,
        |  CAST(sum(xv * xv) AS BIGINT) AS ss
        |FROM xf GROUP BY pos""".stripMargin),

    // Margin-based bitext mining (sim.Bitext.mine): each en doc's best
    // de counterpart, kept only when the pair's cosine stands out
    // against BOTH sides' top-4 neighborhoods (ratio margin >= 1.10) —
    // the CCMatrix/LASER recipe; plain cosine thresholds drown in hub
    // vectors. Langs come from documents (vec_id aligns with doc_id).
    QuerySpec("q143_bitext_margin")((s, dir) => {
      val lang = documents(s, dir).select(col("doc_id"), col("lang"))
      val byLang = embeddings(s, dir)
        .join(lang, col("vec_id") === col("doc_id"))
      def side(l: String) = byLang.filter(col("lang") === l)
        .select(col("vec_id"), col("embedding"))
      graft.sim.Bitext.mine(side("en"), side("de"), k = 4,
        marginMin = 1.10)
    })(
      // The margin arithmetic replayed pairwise: fixed-point cosine
      // codes, window-ranked top-4 neighborhood sums (exact integer),
      // one division into the 2^14 margin code.
      """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        |d AS (SELECT doc_id, lang FROM documents),
        |s AS (SELECT vec_id AS sid, v FROM e JOIN d ON doc_id = vec_id WHERE lang = 'en'),
        |t AS (SELECT vec_id AS tid, v FROM e JOIN d ON doc_id = vec_id WHERE lang = 'de'),
        |p AS (SELECT sid, tid,
        |        CAST(round(list_dot_product(s.v, t.v) /
        |          (sqrt(list_dot_product(s.v, s.v)) * sqrt(list_dot_product(t.v, t.v)))
        |          * 1048576) AS BIGINT) AS c
        |      FROM s, t),
        |fr AS (SELECT sid, tid, c,
        |         row_number() OVER (PARTITION BY sid ORDER BY c DESC, tid) AS r
        |       FROM p),
        |f  AS (SELECT sid, sum(c) AS fsum, count(*) AS nf
        |       FROM fr WHERE r <= 4 GROUP BY sid),
        |bst AS (SELECT sid, tid, c FROM fr WHERE r = 1),
        |br AS (SELECT tid, c,
        |         row_number() OVER (PARTITION BY tid ORDER BY c DESC, sid) AS r
        |       FROM p),
        |b  AS (SELECT tid, sum(c) AS bsum, count(*) AS nb
        |       FROM br WHERE r <= 4 GROUP BY tid)
        |SELECT bst.sid AS src_id, bst.tid AS tgt_id,
        |  CASE WHEN f.fsum * b.nb + b.bsum * f.nf = 0 THEN 0
        |    ELSE CAST(round((CAST(2 * bst.c * f.nf * b.nb AS DOUBLE)
        |      / CAST(f.fsum * b.nb + b.bsum * f.nf AS DOUBLE))
        |      * 16384.0) AS BIGINT) END AS margin_code,
        |  CASE WHEN f.fsum * b.nb + b.bsum * f.nf = 0 THEN 0
        |    ELSE CAST(round((CAST(2 * bst.c * f.nf * b.nb AS DOUBLE)
        |      / CAST(f.fsum * b.nb + b.bsum * f.nf AS DOUBLE))
        |      * 16384.0) AS BIGINT) END >= 18022 AS mined
        |FROM bst JOIN f ON f.sid = bst.sid JOIN b ON b.tid = bst.tid""".stripMargin),

    // Whitening APPLY (sim.Whitening.whiten): per (vec, dim), the
    // z-score of the fixed-point code against q130's corpus moments,
    // in fixed point — the standardization pass in front of PQ /
    // linear probes / isotropic ANN. Moments broadcast (dim rows);
    // apply side is explode → broadcast-join → project, zero
    // exchanges after the one-scan moments aggregate.
    QuerySpec("q145_whiten_apply")((s, dir) =>
      graft.sim.Whitening.whiten(embeddings(s, dir)))(
      // q130's moments CTE extended by the literal IEEE op sequence
      // (mean = s/n; std = sqrt((ss - s*mean)/n); z = (x - mean)/std).
      """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        |flat AS (SELECT vec_id,
        |  unnest(generate_series(1, len(v))) AS pos, v FROM e),
        |xf AS (SELECT vec_id, pos, floor(v[pos] * 10000.0) AS x FROM flat),
        |mo AS (SELECT pos, count(*) AS n,
        |  sum(CAST(x AS BIGINT)) AS s,
        |  sum(CAST(x AS BIGINT) * CAST(x AS BIGINT)) AS ss
        |  FROM xf GROUP BY pos),
        |st AS (SELECT pos,
        |  CAST(s AS DOUBLE) / CAST(n AS DOUBLE) AS mean,
        |  sqrt((CAST(ss AS DOUBLE)
        |      - CAST(s AS DOUBLE) * (CAST(s AS DOUBLE) / CAST(n AS DOUBLE)))
        |    / CAST(n AS DOUBLE)) AS std
        |  FROM mo)
        |SELECT xf.vec_id, CAST(xf.pos - 1 AS INTEGER) AS dim,
        |  CASE WHEN st.std = 0 OR isnan(st.std) THEN 0
        |       ELSE CAST(round((xf.x - st.mean) / st.std * 1024.0) AS BIGINT)
        |  END AS z_code
        |FROM xf JOIN st ON st.pos = xf.pos""".stripMargin),

    // Int8 embedding quantization (sim.Quantize): the 4x memory lever
    // for corpus-scale embedding stores, exploded to scalar rows so
    // the oracle hash-gates every quantized value and reconstruction
    // error exactly.
    QuerySpec("q75_quantize_int8")((s, dir) =>
      graft.sim.Quantize.int8Rows(embeddings(s, dir), "vec_id", "embedding"))(
      // Same per-element arithmetic: one division, one ties-away round,
      // exact micro-unit error — hash-identical across engines.
      """WITH s AS (SELECT vec_id,
        |  list_max(list_transform(embedding, x -> abs(CAST(x AS DOUBLE))))
        |    / 127.0 AS scale,
        |  embedding FROM embeddings),
        |e AS (SELECT vec_id, scale,
        |  generate_subscripts(embedding, 1) - 1 AS dim,
        |  CAST(unnest(embedding) AS DOUBLE) AS x FROM s),
        |qv AS (SELECT vec_id, CAST(dim AS INTEGER) AS dim, scale, x,
        |  CASE WHEN scale = 0 THEN 0
        |       ELSE CAST(round(x/scale) AS INTEGER) END AS qval FROM e)
        |SELECT vec_id, dim, scale, qval,
        |  CAST(round((x - qval * scale) * 1000000) AS BIGINT) AS err_1e6
        |FROM qv""".stripMargin),

    // Exact top-k over the QUANTIZED corpus: all-integer dot products
    // rescaled per candidate — the int8 kernel arithmetic. Fully
    // deterministic (q75's per-element rounding feeds exact integer
    // dots and norms), so the oracle replays the whole ranking in
    // DuckDB; recall vs the FLOAT ranking stays a RECALL.md row
    // (a different property — quantization loss, not correctness).
    QuerySpec("q76_ann_int8")((s, dir) => {
      val emb = embeddings(s, dir)
      graft.sim.Quantize.bruteForceTopKInt8(
        emb, emb.filter(col("vec_id") < 8), k = 5)
    })(
      // The int8 ranking replayed end to end: q75's per-element
      // quantization (same scale/round arithmetic, hash-proven there),
      // then EXACT integer dot products and norms — the only doubles are
      // one sqrt/multiply/divide per (query, candidate), each a single
      // correctly-rounded IEEE op in both engines. Ties (sim DESC,
      // id ASC) match the Spark window exactly.
      """WITH s AS (SELECT vec_id,
        |  list_max(list_transform(embedding, x -> abs(CAST(x AS DOUBLE))))
        |    / 127.0 AS scale,
        |  embedding FROM embeddings),
        |e AS (SELECT vec_id, scale,
        |  generate_subscripts(embedding, 1) AS pos,
        |  CAST(unnest(embedding) AS DOUBLE) AS x FROM s),
        |qv AS (SELECT vec_id, pos,
        |  CASE WHEN scale = 0 THEN CAST(0 AS BIGINT)
        |       ELSE CAST(round(x/scale) AS BIGINT) END AS q FROM e),
        |nrm AS (SELECT vec_id, sum(q*q) AS nn FROM qv GROUP BY vec_id),
        |dots AS (
        |  SELECT c.vec_id AS id, r.vec_id AS qid, sum(c.q * r.q) AS dot
        |  FROM qv c JOIN qv r ON c.pos = r.pos AND c.vec_id <> r.vec_id
        |  WHERE r.vec_id < 8
        |  GROUP BY c.vec_id, r.vec_id),
        |scored AS (
        |  SELECT d.qid, d.id,
        |    CASE WHEN cn.nn = 0 OR qn.nn = 0 THEN -2.0
        |         ELSE CAST(d.dot AS DOUBLE) /
        |           (sqrt(CAST(cn.nn AS DOUBLE)) * sqrt(CAST(qn.nn AS DOUBLE)))
        |    END AS sim
        |  FROM dots d
        |  JOIN nrm cn ON cn.vec_id = d.id
        |  JOIN nrm qn ON qn.vec_id = d.qid)
        |SELECT qid, id AS vec_id, sim, CAST(rnk AS INTEGER) AS rank FROM (
        |  SELECT qid, id, sim,
        |    row_number() OVER (PARTITION BY qid ORDER BY sim DESC, id) AS rnk
        |  FROM scored) WHERE rnk <= 5""".stripMargin),

    // PERSISTED IVF index (Ann.buildIvfIndex): the build-once,
    // query-many ANN shape — centroids + list_id-partitioned inverted
    // lists as catalog tables, corpus assignment paid once per index,
    // not per query batch. Bit-identical to q42's inline form, so it
    // carries the SAME oracle.
    QuerySpec("q77_ann_ivf_index")((s, dir) => {
      val (cat, prefix) = ivfIndexTable(s, dir)
      graft.sim.Ann.ivfTopKFromCatalog(
        embeddings(s, dir).filter(col("vec_id") < 8), cat,
        k = 5, nProbe = 4, prefix = prefix)
    })(
      // the persisted-index path is bit-identical to the inline IVF
      // (arrays of doubles round-trip parquet exactly), so it shares
      // the oracle — the gate proves persistence changed nothing
      ivfOracleSql),

    // Incremental index maintenance: the index is BUILT on the first
    // slice of the corpus and the rest arrives as an appended delta —
    // assignment is paid per-batch, never over the accumulated index.
    // Assignment depends only on the centroids (held fixed by the
    // base slice, which contains the first-16 seed vectors), so the
    // appended index answers queries bit-identically to the one-shot
    // build — it carries q42/q77's oracle unchanged.
    QuerySpec("q78_ann_ivf_append")((s, dir) => {
      val (cat, prefix) = ivfAppendedIndexTable(s, dir)
      graft.sim.Ann.ivfTopKFromCatalog(
        embeddings(s, dir).filter(col("vec_id") < 8), cat,
        k = 5, nProbe = 4, prefix = prefix)
    })(ivfOracleSql),

    // Metadata-filtered exact ANN: candidates restricted to English
    // documents BEFORE any similarity arithmetic (pre-filter — exact
    // by construction and s·|corpus| cheaper; post-filtering a global
    // top-k under-returns). Queries stay unfiltered probes.
    QuerySpec("q83_filtered_ann")((s, dir) =>
      graft.sim.Ann.filteredBruteForceTopK(
        embeddings(s, dir),
        documents(s, dir).filter(col("lang") === "en")
          .select(col("doc_id").as("vec_id")),
        embeddings(s, dir).filter(col("vec_id") < 8), k = 5))(
      // q19's arithmetic with the corpus pre-filtered to English docs;
      // probes stay the unfiltered vec_id < 8 set.
      """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
        |  FROM embeddings
        |  WHERE vec_id IN (SELECT doc_id FROM documents WHERE lang = 'en')),
        |q AS (SELECT vec_id AS qid, CAST(embedding AS DOUBLE[]) AS qv
        |  FROM embeddings WHERE vec_id < 8),
        |scored AS (
        |  SELECT q.qid, e.vec_id,
        |    list_dot_product(q.qv, e.v) /
        |      (sqrt(list_dot_product(q.qv, q.qv)) * sqrt(list_dot_product(e.v, e.v)))
        |      AS sim
        |  FROM q, e WHERE e.vec_id <> q.qid)
        |SELECT qid, vec_id, sim, CAST(rnk AS INTEGER) AS rank FROM (
        |  SELECT qid, vec_id, sim,
        |    row_number() OVER (PARTITION BY qid ORDER BY sim DESC, vec_id) AS rnk
        |  FROM scored) WHERE rnk <= 5""".stripMargin),
  )
}
