package graft
package queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.sim.Ann
import graft.text.{TextFunctions => TF}

/** Search and contamination queries: keyword, phrase and hybrid
  * retrieval over the persisted inverted index, cross-document
  * shingles and lines, winnowing, contamination scrubs —
  * [[graft.text.Retrieval]], [[graft.text.CrossDoc]],
  * [[graft.text.Winnow]], [[graft.text.Contamination]]. */
object RetrievalQueries {
  import Tables._
  import Shared.Fnv64Sql
  import Builds.invertedIndexTable

  /** q106/q107's literal query workload — terms drawn from the
    * synthetic corpus vocabulary, rare+common mixes so idf weighting
    * has something to decide. ONE definition feeds the Spark frame
    * and the oracle's VALUES list. */
  private[graft] val keywordQueries: Seq[(Long, String)] = Seq(
    0L -> "spark shuffle join",
    1L -> "window sort order",
    2L -> "customer query plan",
    3L -> "vector hash batch",
    4L -> "slow scan filter",
    5L -> "table merge")

  private[graft] def keywordQueryFrame(s: SparkSession): DataFrame = {
    import s.implicits._
    keywordQueries.toDF("qid", "qtext")
  }

  /** q110/q111's literal phrase workload: verbatim n-grams at several
    * frequencies (common bigrams, rare trigrams, one absent phrase —
    * the no-hit semantic is part of the contract). */
  private[graft] val phraseQueries: Seq[(Long, String)] = Seq(
    0L -> "table hash",
    1L -> "part filter",
    2L -> "slow hash batch",
    3L -> "window fast query",
    4L -> "part filter scan",
    5L -> "zz absent phrase")

  private[graft] def phraseQueryFrame(s: SparkSession): DataFrame = {
    import s.implicits._
    phraseQueries.toDF("qid", "qtext")
  }

  /** Shared phrase-matching CTEs (q110/q111/q112/q117): positional
    * tokens → per-(qid, doc, start) vote counts → `occ` carries every
    * verbatim occurrence with its phrase length m. */
  private lazy val phraseMatchCtes: String = {
    val values = phraseQueries
      .map { case (qid, t) => s"($qid, '$t')" }.mkString(", ")
    s"""ptoks AS (SELECT doc_id, unnest(tk) AS token,
       |    generate_subscripts(tk, 1) - 1 AS pos
       |  FROM (SELECT doc_id, ${TF.sql.tokens("text")} AS tk
       |        FROM documents)),
       |qs AS (SELECT * FROM (VALUES $values) AS t(qid, qtext)),
       |qt AS (SELECT qid, unnest(tk) AS token,
       |    generate_subscripts(tk, 1) - 1 AS off
       |  FROM (SELECT qid, ${TF.sql.tokens("qtext")} AS tk FROM qs)),
       |qlen AS (SELECT qid, count(*) AS m FROM qt GROUP BY 1),
       |votes AS (SELECT qt.qid, p.doc_id, p.pos - qt.off AS start
       |  FROM qt JOIN ptoks p USING (token)),
       |starts AS (SELECT qid, doc_id, start, count(*) AS c
       |  FROM votes GROUP BY 1, 2, 3),
       |occ AS (SELECT s.qid, s.doc_id, s.start, l.m
       |  FROM starts s JOIN qlen l ON l.qid = s.qid
       |  WHERE s.c = l.m AND s.start >= 0)""".stripMargin
  }

  /** q110/q111's shared oracle: positional tokens → per-(qid, doc,
    * start) vote counts → starts with exactly m votes are verbatim
    * matches. */
  private lazy val phraseSearchOracleSql: String =
    s"""WITH $phraseMatchCtes
       |SELECT CAST(qid AS BIGINT) AS qid, doc_id,
       |  CAST(count(*) AS BIGINT) AS n_occurrences,
       |  CAST(min(start) AS BIGINT) AS first_pos
       |FROM occ GROUP BY 1, 2""".stripMargin

  /** q117's oracle: the occurrence positions union into a drop set,
    * survivors reassemble by position — same whitespace-normalized
    * join as the Spark side. */
  private lazy val phraseScrubOracleSql: String =
    s"""WITH $phraseMatchCtes,
       |drops AS (SELECT DISTINCT doc_id, pos FROM (
       |  SELECT doc_id, start + unnest(range(0, m)) AS pos FROM occ)),
       |keptt AS (SELECT p.doc_id, p.pos, p.token
       |  FROM ptoks p LEFT JOIN drops d
       |    ON p.doc_id = d.doc_id AND p.pos = d.pos
       |  WHERE d.pos IS NULL),
       |reb AS (SELECT doc_id,
       |    string_agg(token, ' ' ORDER BY pos) AS text_clean,
       |    count(*) AS n_kept
       |  FROM keptt GROUP BY 1)
       |SELECT d.doc_id, coalesce(r.text_clean, '') AS text_clean,
       |  CAST(${TF.sql.tokenCount("text")} - coalesce(r.n_kept, 0)
       |    AS BIGINT) AS n_removed
       |FROM documents d LEFT JOIN reb r USING (doc_id)""".stripMargin

  /** q118's oracle: the PROVEN q113 fusion nested as a CTE, evaluated
    * against the exact dense top-3 ground truth — MRR / hit count /
    * recall@10 per query, each emitted value at most one IEEE
    * division of exact integers. */
  private lazy val rankEvalOracleSql: String =
    s"""WITH hy AS ($hybridRrfOracleSql),
       |e2 AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
       |  FROM embeddings),
       |dsc2 AS (SELECT q.vec_id AS qid, e2.vec_id,
       |    list_dot_product(q.v, e2.v) /
       |      (sqrt(list_dot_product(q.v, q.v)) *
       |       sqrt(list_dot_product(e2.v, e2.v))) AS sim
       |  FROM e2 q, e2 WHERE e2.vec_id <> q.vec_id AND q.vec_id < 6),
       |rel AS (SELECT qid, vec_id AS doc_id FROM (
       |    SELECT qid, vec_id, row_number() OVER (
       |      PARTITION BY qid ORDER BY sim DESC, vec_id) AS rnk
       |    FROM dsc2) WHERE rnk <= 3),
       |nr AS (SELECT qid, count(*) AS n_relevant FROM rel GROUP BY 1),
       |j AS (SELECT h.qid, h.rank,
       |    (r.doc_id IS NOT NULL) AS is_rel
       |  FROM hy h LEFT JOIN rel r
       |    ON r.qid = h.qid AND r.doc_id = h.doc_id
       |  WHERE h.rank <= 10),
       |per AS (SELECT qid,
       |    min(CASE WHEN is_rel THEN rank END) AS frr,
       |    sum(CASE WHEN is_rel THEN 1 ELSE 0 END) AS n_hits
       |  FROM j GROUP BY 1)
       |SELECT CAST(nr.qid AS BIGINT) AS qid,
       |  CAST(nr.n_relevant AS BIGINT) AS n_relevant,
       |  CAST(coalesce(p.n_hits, 0) AS BIGINT) AS n_hits,
       |  CASE WHEN p.frr IS NULL THEN 0.0 ELSE 1.0 / p.frr END AS rr,
       |  CAST(coalesce(p.n_hits, 0) AS DOUBLE) /
       |    CAST(nr.n_relevant AS DOUBLE) AS recall_at_k
       |FROM nr LEFT JOIN per p USING (qid)""".stripMargin

  /** q106/q107's shared oracle: the integer BM25-shaped ranking
    * replayed end to end (tf and df from the same tokenizer, idf as
    * the q101 bit-length quotient, (score DESC, id ASC) ties). */
  private lazy val keywordSearchOracleSql: String = {
    val values = keywordQueries
      .map { case (qid, t) => s"($qid, '$t')" }.mkString(", ")
    s"""WITH toks AS (SELECT doc_id, unnest(${TF.sql.tokens("text")})
       |    AS token FROM documents),
       |tf AS (SELECT doc_id, token, count(*) AS tf FROM toks
       |  GROUP BY 1, 2),
       |dfr AS (SELECT token, count(*) AS df FROM tf GROUP BY 1),
       |meta AS (SELECT count(*) AS n_docs FROM documents),
       |qs AS (SELECT * FROM (VALUES $values) AS t(qid, qtext)),
       |qt AS (SELECT DISTINCT qid, unnest(${TF.sql.tokens("qtext")})
       |    AS token FROM qs),
       |w AS (SELECT qt.qid, qt.token,
       |    CAST(length(bin(n_docs // df)) - 1 AS BIGINT) AS idf
       |  FROM qt JOIN dfr USING (token), meta),
       |sc AS (SELECT w.qid, tf.doc_id,
       |    CAST(sum(tf.tf * w.idf) AS BIGINT) AS score
       |  FROM w JOIN tf USING (token) GROUP BY 1, 2)
       |SELECT CAST(qid AS BIGINT) AS qid, doc_id, score,
       |  CAST(rnk AS INTEGER) AS rank FROM (
       |  SELECT qid, doc_id, score,
       |    row_number() OVER (PARTITION BY qid ORDER BY score DESC, doc_id)
       |      AS rnk
       |  FROM sc) WHERE rnk <= 10""".stripMargin
  }

  /** q112's oracle: the PROVEN q110 phrase replay nested as a CTE,
    * rolled up per document and left-joined back to the corpus —
    * gate-vs-primitive drift is impossible by construction (the q109
    * discipline). */
  private lazy val phraseDeconOracleSql: String =
    s"""WITH hits0 AS ($phraseSearchOracleSql),
       |h AS (SELECT doc_id, count(DISTINCT qid) AS nh
       |  FROM hits0 GROUP BY 1)
       |SELECT d.doc_id,
       |  CAST(coalesce(h.nh, 0) AS BIGINT) AS n_hit_phrases,
       |  CAST(CASE WHEN coalesce(h.nh, 0) = 0 THEN 1 ELSE 0 END
       |    AS INTEGER) AS kept
       |FROM documents d LEFT JOIN h USING (doc_id)""".stripMargin

  /** q113's oracle: the PROVEN q106 keyword ranking and the PROVEN
    * q65-form exact cosine ranking (probes = vec_id 0..5, the
    * keyword qids) fused by reciprocal ranks. Each RRF term is one
    * IEEE division of exact integers, the sum is two doubles in
    * fixed (kw, dense) order — hash-replayable end to end. */
  private lazy val hybridRrfOracleSql: String =
    s"""WITH kw AS ($keywordSearchOracleSql),
       |e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
       |  FROM embeddings),
       |dsc AS (SELECT q.vec_id AS qid, e.vec_id,
       |    list_dot_product(q.v, e.v) /
       |      (sqrt(list_dot_product(q.v, q.v)) *
       |       sqrt(list_dot_product(e.v, e.v))) AS sim
       |  FROM e q, e WHERE e.vec_id <> q.vec_id AND q.vec_id < 6),
       |dense AS (SELECT qid, vec_id AS doc_id, rnk FROM (
       |    SELECT qid, vec_id, row_number() OVER (
       |      PARTITION BY qid ORDER BY sim DESC, vec_id) AS rnk
       |    FROM dsc) WHERE rnk <= 10),
       |fused AS (SELECT qid, doc_id,
       |    CAST(coalesce(kw.rank, 0) AS BIGINT) AS r_kw,
       |    CAST(coalesce(dense.rnk, 0) AS BIGINT) AS r_dense
       |  FROM kw FULL JOIN dense USING (qid, doc_id)),
       |sc AS (SELECT qid, doc_id, r_kw, r_dense,
       |    (CASE WHEN r_kw = 0 THEN 0.0
       |      ELSE 1.0 / (60 + r_kw) END) +
       |    (CASE WHEN r_dense = 0 THEN 0.0
       |      ELSE 1.0 / (60 + r_dense) END) AS rrf
       |  FROM fused)
       |SELECT CAST(qid AS BIGINT) AS qid, doc_id, r_kw, r_dense, rrf,
       |  CAST(rnk AS INTEGER) AS rank FROM (
       |  SELECT *, row_number() OVER (
       |    PARTITION BY qid ORDER BY rrf DESC, doc_id) AS rnk
       |  FROM sc) WHERE rnk <= 10""".stripMargin

  val specs: Seq[QuerySpec] = Seq(
    // Keyword retrieval (text.Retrieval): BM25-shaped top-k with
    // WHOLE-BIT idf — tf·floor(log2(N div df)) exact-long scores, so
    // the ranking replays in DuckDB (the q101 bit-length discipline).
    // The decontamination/corpus-forensics search primitive.
    QuerySpec("q106_keyword_search")((s, dir) =>
      graft.text.Retrieval.searchTopKInline(documents(s, dir), "doc_id",
        "text", keywordQueryFrame(s), k = 10))(
      // tf · whole-bit idf, every score an exact BIGINT; the VALUES
      // list renders from the same keywordQueries constant the Spark
      // frame uses. q107 shares it verbatim: the persisted bucket-
      // partitioned index must reproduce the inline search bit-for-bit.
      keywordSearchOracleSql),

    // The same workload through the PERSISTED token-bucket-partitioned
    // inverted index — scans only the query terms' buckets (static
    // partition IN-list → file-level pruning). Shares q106's oracle:
    // persistence and pruning are proven bit-neutral, the q77/q90
    // discipline.
    QuerySpec("q107_keyword_indexed")((s, dir) => {
      val (cat, prefix) = invertedIndexTable(s, dir)
      graft.text.Retrieval.searchTopKFromCatalog(s, cat, prefix,
        keywordQueryFrame(s), k = 10)
    })(keywordSearchOracleSql),

    // Exact phrase search (text.Retrieval.phraseSearch): verbatim
    // n-gram occurrence per (query, doc) via the votes-per-start
    // reformulation — one token join + one aggregate, no m-way
    // self-join. The "does this benchmark phrase appear" primitive.
    QuerySpec("q110_phrase_search")((s, dir) =>
      graft.text.Retrieval.phraseSearchInline(documents(s, dir),
        "doc_id", "text", phraseQueryFrame(s)))(
      // The votes-per-start reformulation replayed as GROUP BY …
      // HAVING-count — all-integer, and the absent-phrase query
      // (qid 5) is proven absent by both engines.
      phraseSearchOracleSql),

    // The same phrase workload through the persisted POSITIONAL index
    // (q107's bucket pruning on the positions table); shares q110's
    // oracle — persistence and pruning proven bit-neutral.
    QuerySpec("q111_phrase_indexed")((s, dir) => {
      val (cat, prefix) = invertedIndexTable(s, dir)
      graft.text.Retrieval.phraseSearchFromCatalog(s, cat, prefix,
        phraseQueryFrame(s))
    })(phraseSearchOracleSql),

    // The decontamination GATE on the phrase primitive
    // (text.Retrieval.phraseDecontaminate): every doc scored by how
    // many benchmark phrases it carries verbatim, kept iff none —
    // funnel-total frame, zero rows included.
    QuerySpec("q112_phrase_decon")((s, dir) =>
      graft.text.Retrieval.phraseDecontaminate(documents(s, dir),
        "doc_id", "text", phraseQueryFrame(s)))(phraseDeconOracleSql),

    // Hybrid retrieval (text.Retrieval.hybridRrf): the q106 BM25 leg
    // and an exact dense cosine leg (probes = the keyword qids' own
    // embeddings, q65's scoring) fused by reciprocal ranks — rank-only
    // fusion needs no score calibration and stays hash-replayable
    // (each term one IEEE division, fixed-order two-double sum).
    QuerySpec("q113_hybrid_rrf")((s, dir) => {
      val kw = graft.text.Retrieval.searchTopKInline(documents(s, dir),
        "doc_id", "text", keywordQueryFrame(s), k = 10)
      val dense = graft.sim.Ann.bruteForceTopK(embeddings(s, dir),
          embeddings(s, dir).filter(col("vec_id") < 6), k = 10)
        .withColumnRenamed("vec_id", "doc_id")
      graft.text.Retrieval.hybridRrf(kw, dense, k = 10)
    })(hybridRrfOracleSql),

    // Snapshot novelty (text.CrossDoc.snapshotNovelty): per fresh-crawl
    // doc (doc_id % 7 == 0), the fraction of its distinct 5-shingles
    // absent from the standing corpus — the new-crawl accounting run
    // before paying for full dedup. Exact membership join here; the
    // petabyte path is the bloom gate fed with reference shingles.
    QuerySpec("q144_snapshot_novelty")((s, dir) => {
      val d = documents(s, dir)
      graft.text.CrossDoc.snapshotNovelty(
        d.filter(col("doc_id") % 7 =!= 0),
        d.filter(col("doc_id") % 7 === 0), "doc_id", "text", shingleK = 5)
    })(
      // The q59 shingle CTE split into reference/fresh; novelty is a
      // NOT-IN membership via left join on the shingle string.
      s"""WITH toks AS (SELECT doc_id, ${TF.sql.tokens("text")} AS T
         |  FROM documents),
         |base AS (SELECT doc_id, T, len(T) AS m FROM toks),
         |idx AS (SELECT doc_id, T, m,
         |  unnest(range(1, greatest(m-4, 1)+1)) AS i FROM base),
         |sh AS (SELECT DISTINCT doc_id,
         |  CASE WHEN m < 5 THEN array_to_string(T, ' ')
         |       ELSE array_to_string(
         |         list_slice(T, CAST(i AS INTEGER), CAST(i AS INTEGER)+4), ' ')
         |  END AS shingle FROM idx),
         |seen AS (SELECT DISTINCT shingle FROM sh WHERE doc_id % 7 <> 0),
         |f AS (SELECT doc_id, shingle FROM sh WHERE doc_id % 7 = 0)
         |SELECT f.doc_id, count(*) AS n_shingles,
         |  CAST(sum(CASE WHEN seen.shingle IS NULL THEN 1 ELSE 0 END)
         |    AS BIGINT) AS n_novel,
         |  CAST(sum(CASE WHEN seen.shingle IS NULL THEN 1 ELSE 0 END)
         |    AS BIGINT) / count(*) AS novelty_fraction
         |FROM f LEFT JOIN seen ON f.shingle = seen.shingle
         |GROUP BY 1""".stripMargin),

    // First-carrier attribution (text.CrossDoc.firstCarrierStats):
    // in id order, the fraction of each doc's distinct 5-shingles it
    // INTRODUCED — origins rank above mirrors; the ordering twin of
    // q144's snapshot novelty, the HOW-MUCH to q91's WHO-stays.
    QuerySpec("q160_first_carrier")((s, dir) =>
      graft.text.CrossDoc.firstCarrierStats(documents(s, dir),
        "doc_id", "text", shingleK = 5))(
      // The q59 shingle CTE + a min-carrier aggregate.
      s"""WITH toks AS (SELECT doc_id, ${TF.sql.tokens("text")} AS T
         |  FROM documents),
         |base AS (SELECT doc_id, T, len(T) AS m FROM toks),
         |idx AS (SELECT doc_id, T, m,
         |  unnest(range(1, greatest(m-4, 1)+1)) AS i FROM base),
         |sh AS (SELECT DISTINCT doc_id,
         |  CASE WHEN m < 5 THEN array_to_string(T, ' ')
         |       ELSE array_to_string(
         |         list_slice(T, CAST(i AS INTEGER), CAST(i AS INTEGER)+4), ' ')
         |  END AS shingle FROM idx),
         |fst AS (SELECT shingle, min(doc_id) AS f FROM sh GROUP BY 1)
         |SELECT s.doc_id, count(*) AS n_shingles,
         |  CAST(sum(CASE WHEN s.doc_id = fst.f THEN 1 ELSE 0 END)
         |    AS BIGINT) AS n_introduced,
         |  CAST(sum(CASE WHEN s.doc_id = fst.f THEN 1 ELSE 0 END)
         |    AS BIGINT) / count(*) AS novelty_fraction
         |FROM sh s JOIN fst USING (shingle)
         |GROUP BY 1""".stripMargin),

    // Winnowing as dedup candidate generation (text.Winnow
    // .candidatePairs): docs sharing >= 2 selected fingerprints —
    // the MOSS use of q146's fingerprints; fp-keyed self-join with
    // the knnJoin flood-cap discipline, pair mass = collision mass.
    QuerySpec("q157_winnow_pairs")((s, dir) =>
      graft.text.Winnow.candidatePairs(documents(s, dir), "doc_id",
        "text", shingleK = 3, window = 4, minShared = 2))(
      // The q146 fingerprint CTE, distinct (doc, fp), flood cap,
      // unordered self-join, shared-count gate.
      s"""WITH toks AS (SELECT doc_id, ${TF.sql.tokens("text")} AS T
         |  FROM documents),
         |base AS (SELECT doc_id, T, len(T) AS m FROM toks),
         |idx AS (SELECT doc_id, T, m,
         |  CAST(unnest(range(1, greatest(m-2, 1)+1)) AS INTEGER) AS i
         |  FROM base),
         |sh AS (SELECT doc_id, i,
         |  CASE WHEN m < 3 THEN array_to_string(T, ' ')
         |       ELSE array_to_string(list_slice(T, i, i+2), ' ')
         |  END AS tok FROM idx),
         |hx AS (SELECT doc_id, i,
         |  CAST((${Fnv64Sql.tokHash}) % 1099511627776 AS BIGINT) AS h40
         |  FROM sh),
         |pk AS (SELECT doc_id, i,
         |  h40 * 1048576 + (1048575 - i) AS code FROM hx),
         |wn AS (SELECT doc_id, code,
         |  min(code) OVER (PARTITION BY doc_id ORDER BY i
         |    ROWS BETWEEN 3 PRECEDING AND CURRENT ROW) AS sel,
         |  row_number() OVER (PARTITION BY doc_id ORDER BY i) AS rn,
         |  count(*) OVER (PARTITION BY doc_id) AS tot
         |  FROM pk),
         |fp AS (SELECT DISTINCT doc_id, sel // 1048576 AS fp
         |  FROM wn WHERE rn >= least(4, tot)),
         |surv AS (SELECT fp FROM (SELECT fp, count(*) AS n FROM fp
         |  GROUP BY 1) WHERE n <= 10000),
         |c AS (SELECT fp.doc_id, fp.fp FROM fp JOIN surv USING (fp))
         |SELECT a.doc_id AS id_a, b.doc_id AS id_b,
         |  count(*) AS n_shared
         |FROM c a JOIN c b ON a.fp = b.fp AND a.doc_id < b.doc_id
         |GROUP BY 1, 2
         |HAVING count(*) >= 2""".stripMargin),

    // NDCG@10 (ops.Eval.ndcgAtK) of the q113 hybrid ranking against
    // GRADED dense ground truth (top-3 at grades 3/2/1) — the ranking
    // metric that rewards order, not just membership; discounts are a
    // pinned integer table (no runtime log), exact to the last digit.
    QuerySpec("q182_ndcg")((s, dir) => {
      val kw = graft.text.Retrieval.searchTopKInline(documents(s, dir),
        "doc_id", "text", keywordQueryFrame(s), k = 10)
      val probes = embeddings(s, dir).filter(col("vec_id") < 6)
      val dense = graft.sim.Ann.bruteForceTopK(embeddings(s, dir),
          probes, k = 10)
        .withColumnRenamed("vec_id", "doc_id")
      val hybrid = graft.text.Retrieval.hybridRrf(kw, dense, k = 10)
      val rel = graft.sim.Ann.bruteForceTopK(embeddings(s, dir),
          probes, k = 3)
        .withColumnRenamed("vec_id", "doc_id")
        .select(col("qid"), col("doc_id"),
          (lit(4L) - col("rank").cast("long")).as("grade"))
      graft.ops.Eval.ndcgAtK(hybrid, rel, k = 10)
    })(
      // q118's hybrid + graded-truth CTEs, the SAME pinned discount
      // table (Eval.discountCaseSql), the same ideal-order truncation.
      s"""WITH hy AS ($hybridRrfOracleSql),
         |e2 AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
         |  FROM embeddings),
         |dsc2 AS (SELECT q.vec_id AS qid, e2.vec_id,
         |    list_dot_product(q.v, e2.v) /
         |      (sqrt(list_dot_product(q.v, q.v)) *
         |       sqrt(list_dot_product(e2.v, e2.v))) AS sim
         |  FROM e2 q, e2 WHERE e2.vec_id <> q.vec_id AND q.vec_id < 6),
         |rel AS (SELECT qid, vec_id AS doc_id, 4 - rnk AS grade FROM (
         |    SELECT qid, vec_id, row_number() OVER (
         |      PARTITION BY qid ORDER BY sim DESC, vec_id) AS rnk
         |    FROM dsc2) WHERE rnk <= 3),
         |d AS (SELECT h.qid,
         |    sum(coalesce(r.grade, 0) *
         |      ${graft.ops.Eval.discountCaseSql("h.rank")}) AS dcg
         |  FROM hy h LEFT JOIN rel r
         |    ON r.qid = h.qid AND r.doc_id = h.doc_id
         |  WHERE h.rank <= 10 GROUP BY 1),
         |i AS (SELECT qid,
         |    sum(grade * ${graft.ops.Eval.discountCaseSql("irank")})
         |      AS idcg
         |  FROM (SELECT qid, grade, doc_id, row_number() OVER (
         |      PARTITION BY qid ORDER BY grade DESC, doc_id) AS irank
         |    FROM rel) WHERE irank <= 10 GROUP BY 1)
         |SELECT CAST(coalesce(i.qid, d.qid) AS BIGINT) AS qid,
         |  CAST(coalesce(d.dcg, 0) AS BIGINT) AS dcg_code,
         |  CAST(i.idcg AS BIGINT) AS idcg_code,
         |  CASE WHEN i.idcg IS NULL OR i.idcg = 0 THEN NULL
         |    ELSE CAST((1000000 * CAST(coalesce(d.dcg, 0) AS BIGINT))
         |      // CAST(i.idcg AS BIGINT) AS BIGINT) END AS ndcg_code
         |FROM i FULL JOIN d ON d.qid = i.qid""".stripMargin),

    // Winnowing fingerprints (text.Winnow.fingerprints): the MOSS
    // local fingerprinting algorithm — per window of 4 consecutive
    // 3-gram hashes, the minimum (rightmost tie), so any shared run
    // of >= w+k-1 tokens is guaranteed a common fingerprint at ~2/(w+1)
    // density. All-integer packed argmin; per-doc window partition.
    QuerySpec("q146_winnow_fingerprints")((s, dir) =>
      graft.text.Winnow.fingerprints(documents(s, dir), "doc_id", "text",
        shingleK = 3, window = 4))(
      // The q59/q144 shingle CTE at k=3, the HUGEINT token-hash replay
      // reduced mod 2^40, and the same packed-argmin window arithmetic.
      s"""WITH toks AS (SELECT doc_id, ${TF.sql.tokens("text")} AS T
         |  FROM documents),
         |base AS (SELECT doc_id, T, len(T) AS m FROM toks),
         |idx AS (SELECT doc_id, T, m,
         |  CAST(unnest(range(1, greatest(m-2, 1)+1)) AS INTEGER) AS i
         |  FROM base),
         |sh AS (SELECT doc_id, i,
         |  CASE WHEN m < 3 THEN array_to_string(T, ' ')
         |       ELSE array_to_string(list_slice(T, i, i+2), ' ')
         |  END AS tok FROM idx),
         |hx AS (SELECT doc_id, i,
         |  CAST((${Fnv64Sql.tokHash}) % 1099511627776 AS BIGINT) AS h40
         |  FROM sh),
         |pk AS (SELECT doc_id, i,
         |  h40 * 1048576 + (1048575 - i) AS code FROM hx),
         |wn AS (SELECT doc_id, code,
         |  min(code) OVER (PARTITION BY doc_id ORDER BY i
         |    ROWS BETWEEN 3 PRECEDING AND CURRENT ROW) AS sel,
         |  row_number() OVER (PARTITION BY doc_id ORDER BY i) AS rn,
         |  count(*) OVER (PARTITION BY doc_id) AS tot
         |  FROM pk)
         |SELECT DISTINCT doc_id,
         |  CAST(1048575 - (sel % 1048576) AS INTEGER) AS pos,
         |  sel // 1048576 AS fp
         |FROM wn WHERE rn >= least(4, tot)""".stripMargin),

    // Count-Min frequency sketch (ops.Sketches.freqSketch/cmEstimate):
    // one 8 KiB mergeable counter grid over the corpus token stream,
    // point estimates (min of d cells) for the keyword terms next to
    // their exact counts — the mergeable-frequency twin of q62's HLL.
    QuerySpec("q120_cm_freq")((s, dir) => {
      val toks = documents(s, dir)
        .select(explode(TF.tokens(col("text"))).as("token"))
      val sk = toks.agg(
        graft.functions.aggs.cm_sketch(col("token"), 4, 256).as("sk"))
      val probes = keywordQueryFrame(s)
        .select(explode(TF.tokens(col("qtext"))).as("token")).distinct()
      val exact = toks.groupBy(col("token"))
        .agg(count(lit(1)).as("cnt"))
      probes.join(exact, Seq("token"), "left")
        .crossJoin(broadcast(sk))
        .select(col("token"),
          coalesce(col("cnt"), lit(0L)).as("cnt_exact"),
          graft.ops.Sketches.cmEstimate(col("sk"), col("token"), 4, 256)
            .as("cnt_est"))
    })({
      // The Count-Min grid replayed cell by cell: the same FNV-1a/fmix64
      // token hash (Fnv64Sql, the q21/q93 machinery), row r's bucket as
      // its disjoint byte window of the unsigned hash — (H // 256^r) %
      // 256 on HUGEINT ≡ the Scala (h >>> 8r) & 255 — row sums as exact
      // longs, estimate = min over rows. Bit-identical grid, estimates.
      val qvalues = keywordQueries
        .map { case (qid, t) => s"($qid, '$t')" }.mkString(", ")
      def bucket(r: Int): String =
        s"CAST((H // ${java.math.BigInteger.valueOf(256L).pow(r)}) " +
          s"% 256 AS INTEGER)"
      val cellSelects = (0 until 4)
        .map(r => s"SELECT $r AS r, ${bucket(r)} AS b, cnt FROM th")
        .mkString("\n  UNION ALL ")
      val probeSelects = (0 until 4)
        .map(r => s"SELECT tok, $r AS r, ${bucket(r)} AS b FROM ph")
        .mkString("\n  UNION ALL ")
      s"""WITH toks AS (SELECT unnest(${TF.sql.tokens("text")}) AS tok
         |  FROM documents),
         |tc AS (SELECT tok, count(*) AS cnt FROM toks GROUP BY 1),
         |th AS (SELECT tok, cnt, ${Fnv64Sql.tokHash} AS H FROM tc),
         |cells AS ($cellSelects),
         |rowsum AS (SELECT r, b, sum(cnt) AS c FROM cells GROUP BY 1, 2),
         |qs AS (SELECT * FROM (VALUES $qvalues) AS t(qid, qtext)),
         |probes AS (SELECT DISTINCT unnest(${TF.sql.tokens("qtext")})
         |    AS tok FROM qs),
         |ph AS (SELECT tok, ${Fnv64Sql.tokHash} AS H FROM probes),
         |pb AS ($probeSelects),
         |est AS (SELECT pb.tok, min(coalesce(rs.c, 0)) AS est
         |  FROM pb LEFT JOIN rowsum rs ON rs.r = pb.r AND rs.b = pb.b
         |  GROUP BY 1)
         |SELECT p.tok AS token,
         |  CAST(coalesce(tc.cnt, 0) AS BIGINT) AS cnt_exact,
         |  CAST(e.est AS BIGINT) AS cnt_est
         |FROM probes p LEFT JOIN tc ON tc.tok = p.tok
         |  JOIN est e ON e.tok = p.tok""".stripMargin
    }),

    // Surgical decontamination (text.Retrieval.phraseScrub): remove
    // exactly the verbatim phrase occurrences, keep the document —
    // position-union drops, survivors rejoined in order; total frame.
    QuerySpec("q117_phrase_scrub")((s, dir) =>
      graft.text.Retrieval.phraseScrub(documents(s, dir), "doc_id",
        "text", phraseQueryFrame(s)))(phraseScrubOracleSql),

    // Retrieval evaluation (text.Retrieval.rankEval): the q113 hybrid
    // ranking scored against the exact dense top-3 ground truth —
    // MRR / hits / recall@10 per query, the offline eval loop.
    QuerySpec("q118_rank_eval")((s, dir) => {
      val kw = graft.text.Retrieval.searchTopKInline(documents(s, dir),
        "doc_id", "text", keywordQueryFrame(s), k = 10)
      val probes = embeddings(s, dir).filter(col("vec_id") < 6)
      val dense = graft.sim.Ann.bruteForceTopK(embeddings(s, dir),
          probes, k = 10)
        .withColumnRenamed("vec_id", "doc_id")
      val hybrid = graft.text.Retrieval.hybridRrf(kw, dense, k = 10)
      val rel = graft.sim.Ann.bruteForceTopK(embeddings(s, dir),
          probes, k = 3)
        .withColumnRenamed("vec_id", "doc_id")
        .select(col("qid"), col("doc_id"))
      graft.text.Retrieval.rankEval(hybrid, rel, k = 10)
    })(rankEvalOracleSql),

    // Cross-document repeated-substring signal (text.CrossDoc): the
    // fraction of each doc's distinct 5-word shingles that occur in
    // other documents — the substring-level dedup score pairwise joins
    // miss (Lee et al. 2021 motivation). Linear in shingle mass: no
    // pair frame, the shingle-keyed exchange reused for the join-back.
    QuerySpec("q59_shared_shingles")((s, dir) =>
      graft.text.CrossDoc.duplicateShingleStats(
        documents(s, dir), "doc_id", "text", shingleK = 5))(
      // Same shingle CTE as q44; count(*) per shingle = carrier docs
      // because the per-doc shingle sets are DISTINCT.
      s"""WITH toks AS (SELECT doc_id, ${TF.sql.tokens("text")} AS T
         |  FROM documents),
         |base AS (SELECT doc_id, T, len(T) AS m FROM toks),
         |idx AS (SELECT doc_id, T, m,
         |  unnest(range(1, greatest(m-4, 1)+1)) AS i FROM base),
         |sh AS (SELECT DISTINCT doc_id,
         |  CASE WHEN m < 5 THEN array_to_string(T, ' ')
         |       ELSE array_to_string(
         |         list_slice(T, CAST(i AS INTEGER), CAST(i AS INTEGER)+4), ' ')
         |  END AS shingle FROM idx),
         |cnt AS (SELECT shingle, count(*) AS n_docs FROM sh GROUP BY 1)
         |SELECT s.doc_id, count(*) AS n_shingles,
         |  CAST(sum(CASE WHEN c.n_docs >= 2 THEN 1 ELSE 0 END) AS BIGINT)
         |    AS n_shared,
         |  CAST(sum(CASE WHEN c.n_docs >= 2 THEN 1 ELSE 0 END) AS BIGINT)
         |    / count(*) AS shared_fraction
         |FROM sh s JOIN cnt c USING (shingle)
         |GROUP BY 1""".stripMargin),

    // Benchmark-contamination annotation (decontamination): distinct
    // 5-word-shingle overlap of every document against a probe set (the
    // pseudo-benchmark doc_id % 97 == 0 slice), probe shingles
    // broadcast, corpus scanned once.
    QuerySpec("q44_contamination")((s, dir) => {
      val docs = documents(s, dir)
      graft.text.Contamination.flag(
        docs, docs.filter(col("doc_id") % 97 === 0), "doc_id", "text",
        shingleK = 5, minHits = 2)
    })(
      // Word-shingle parity with graft.functions.exprs.WordShingles: a
      // doc shorter than k tokens contributes its whole token string as
      // the single shingle; shingles join on ' '.
      s"""WITH toks AS (SELECT doc_id, ${TF.sql.tokens("text")} AS T
         |  FROM documents),
         |base AS (SELECT doc_id, T, len(T) AS m FROM toks),
         |idx AS (SELECT doc_id, T, m,
         |  unnest(range(1, greatest(m-4, 1)+1)) AS i FROM base),
         |sh AS (SELECT DISTINCT doc_id,
         |  CASE WHEN m < 5 THEN array_to_string(T, ' ')
         |       ELSE array_to_string(
         |         list_slice(T, CAST(i AS INTEGER), CAST(i AS INTEGER)+4), ' ')
         |  END AS shingle FROM idx),
         |probe AS (SELECT DISTINCT shingle FROM sh WHERE doc_id % 97 = 0),
         |hits AS (SELECT s.doc_id, count(*) AS n_hits
         |  FROM sh s JOIN probe p USING (shingle) GROUP BY 1)
         |SELECT d.doc_id, coalesce(h.n_hits, 0) AS n_hits,
         |  CASE WHEN coalesce(h.n_hits, 0) >= 2 THEN 1 ELSE 0 END
         |    AS contaminated
         |FROM documents d LEFT JOIN hits h ON d.doc_id = h.doc_id""".stripMargin),

    // Span-level decontamination (Contamination.removeSpans): q44's
    // surgical sibling — scrub only the probe-matching shingle spans,
    // keep the document's uncontaminated mass. The oracle rebuilds
    // every clean_text in DuckDB, so the positional cover arithmetic
    // and the token-level rewrite are hash-gated end to end.
    QuerySpec("q73_span_removal")((s, dir) => {
      val docs = documents(s, dir)
      graft.text.Contamination.removeSpans(
        docs.filter(col("doc_id") % 97 =!= 0),
        docs.filter(col("doc_id") % 97 === 0),
        "doc_id", "text", shingleK = 5)
    })(
      // Positional shingle cover + token-level rewrite, replayed with
      // DuckDB list ops (same m<5 whole-doc convention as q44's CASE).
      s"""WITH toksv AS (SELECT doc_id, ${TF.sql.tokens("text")} AS t
         |  FROM documents),
         |base AS (SELECT doc_id, t, len(t) AS m FROM toksv),
         |idx AS (SELECT doc_id, t, m,
         |  unnest(range(1, greatest(m-4, 1)+1)) AS i FROM base),
         |sh AS (SELECT doc_id, CAST(i AS INTEGER) AS i, m,
         |  CASE WHEN m < 5 THEN array_to_string(t, ' ')
         |       ELSE array_to_string(
         |         list_slice(t, CAST(i AS INTEGER), CAST(i AS INTEGER)+4), ' ')
         |  END AS shingle FROM idx),
         |probe AS (SELECT DISTINCT shingle FROM sh WHERE doc_id % 97 = 0),
         |hits AS (SELECT s.doc_id, s.i, s.m FROM sh s JOIN probe p
         |  USING (shingle) WHERE s.doc_id % 97 <> 0),
         |cov AS (SELECT DISTINCT doc_id, CAST(p AS INTEGER) AS p FROM hits,
         |  unnest(range(i, least(i+5, m+1))) AS c(p)),
         |cova AS (SELECT doc_id, count(*) AS n_removed,
         |  list(p ORDER BY p) AS cov FROM cov GROUP BY 1)
         |SELECT b.doc_id, CAST(b.m AS INTEGER) AS n_tokens,
         |  CAST(coalesce(a.n_removed, 0) AS INTEGER) AS n_removed,
         |  coalesce(CASE
         |       WHEN a.cov IS NULL THEN array_to_string(b.t, ' ')
         |       ELSE array_to_string(list_transform(
         |         list_filter(range(1, b.m+1),
         |           p -> NOT list_contains(a.cov, p)),
         |         p -> b.t[CAST(p AS INTEGER)]), ' ')
         |  END, '') AS clean_text
         |FROM base b LEFT JOIN cova a USING (doc_id)
         |WHERE b.doc_id % 97 <> 0""".stripMargin),

    // Cross-document repeated-span scrub (CrossDoc.removeSharedSpans):
    // substring-level dedup — every 5-shingle carried by ≥2 distinct
    // docs survives only in its lowest-id carrier. q59 measures this
    // signal; q80 acts on it.
    QuerySpec("q80_crossdoc_scrub")((s, dir) =>
      graft.text.CrossDoc.removeSharedSpans(
        documents(s, dir), "doc_id", "text", shingleK = 5))(
      // q73's positional replay with the probe set derived from the
      // corpus itself: shingles carried by ≥2 distinct docs, scrubbed
      // everywhere except the min-doc_id keeper.
      s"""WITH toksv AS (SELECT doc_id, ${TF.sql.tokens("text")} AS t
         |  FROM documents),
         |base AS (SELECT doc_id, t, len(t) AS m FROM toksv),
         |idx AS (SELECT doc_id, t, m,
         |  unnest(range(1, greatest(m-4, 1)+1)) AS i FROM base),
         |sh AS (SELECT doc_id, CAST(i AS INTEGER) AS i, m,
         |  CASE WHEN m < 5 THEN array_to_string(t, ' ')
         |       ELSE array_to_string(
         |         list_slice(t, CAST(i AS INTEGER), CAST(i AS INTEGER)+4), ' ')
         |  END AS shingle FROM idx),
         |car AS (SELECT shingle, count(DISTINCT doc_id) AS n_docs,
         |  min(doc_id) AS keeper FROM sh GROUP BY shingle),
         |shared AS (SELECT shingle, keeper FROM car WHERE n_docs >= 2),
         |hits AS (SELECT s.doc_id, s.i, s.m FROM sh s JOIN shared p
         |  USING (shingle) WHERE s.doc_id <> p.keeper),
         |cov AS (SELECT DISTINCT doc_id, CAST(p AS INTEGER) AS p FROM hits,
         |  unnest(range(i, least(i+5, m+1))) AS c(p) WHERE m >= 1),
         |cova AS (SELECT doc_id, count(*) AS n_removed,
         |  list(p ORDER BY p) AS cov FROM cov GROUP BY 1)
         |SELECT b.doc_id, CAST(b.m AS INTEGER) AS n_tokens,
         |  CAST(coalesce(a.n_removed, 0) AS INTEGER) AS n_removed,
         |  coalesce(CASE
         |       WHEN a.cov IS NULL THEN array_to_string(b.t, ' ')
         |       ELSE array_to_string(list_transform(
         |         list_filter(range(1, b.m+1),
         |           p -> NOT list_contains(a.cov, p)),
         |         p -> b.t[CAST(p AS INTEGER)]), ' ')
         |  END, '') AS clean_text
         |FROM base b LEFT JOIN cova a USING (doc_id)""".stripMargin),

    // Exact LINE-level cross-doc dedup (CCNet-style): lines carried
    // verbatim by ≥2 documents survive only in the lowest-id carrier —
    // whole-line boilerplate at a fraction of the shingle machinery's
    // cost (no tokenize, no positional cover).
    QuerySpec("q95_shared_line_dedup")((s, dir) =>
      graft.text.CrossDoc.removeSharedLines(
        documents(s, dir), "doc_id", "text"))(
      // Oracle built by the operator itself (CrossDoc) so the split
      // rule, keeper policy, and reassembly cannot drift.
      graft.text.CrossDoc.removeSharedLinesOracleSql(
        "documents", "doc_id", "text")),
  )
}
