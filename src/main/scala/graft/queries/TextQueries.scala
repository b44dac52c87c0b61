package graft
package queries

import org.apache.spark.sql.functions._
import graft.text.{TextFunctions => TF}

/** Text analysis and quality-gate queries: tokenization, vocabularies,
  * repetition, language-model and classifier gates, the composed
  * filter stack — [[graft.text]]. */
object TextQueries {
  import Tables._
  import Shared.Fnv64Sql

  /** q101/q109's whole-bit surprisal replay, parameterized by the
    * keep band: floor(log2 q) as length(bin(q))-1 — pure integer
    * arithmetic, identical in both engines; the mean is the one IEEE
    * division. */
  private def perplexityBandOracleSql(lo: Double, hi: Double): String =
    s"""WITH toks AS (SELECT doc_id, unnest(${TF.sql.tokens("text")})
       |    AS token FROM documents),
       |cnt AS (SELECT token, count(*) AS c FROM toks GROUP BY 1),
       |tot AS (SELECT CAST(sum(c) AS BIGINT) AS n_total FROM cnt),
       |s AS (SELECT token, CAST(length(bin(n_total // c)) - 1 AS INTEGER)
       |    AS s FROM cnt, tot),
       |agg AS (SELECT doc_id, count(*) AS n_toks,
       |    CAST(sum(s.s) AS BIGINT) AS sum_s
       |  FROM toks JOIN s USING (token) GROUP BY 1)
       |SELECT d.doc_id,
       |  CAST(coalesce(a.n_toks, 0) AS BIGINT) AS n_tokens,
       |  coalesce(a.sum_s, 0) AS sum_surprisal,
       |  CASE WHEN a.n_toks IS NOT NULL
       |    THEN CAST(a.sum_s AS DOUBLE) / CAST(a.n_toks AS DOUBLE)
       |  END AS mean_surprisal,
       |  CAST(CASE WHEN a.n_toks IS NOT NULL
       |    AND CAST(a.sum_s AS DOUBLE) / CAST(a.n_toks AS DOUBLE) >= $lo
       |    AND CAST(a.sum_s AS DOUBLE) / CAST(a.n_toks AS DOUBLE) <= $hi
       |    THEN 1 ELSE 0 END AS INTEGER) AS kept
       |FROM documents d LEFT JOIN agg a USING (doc_id)""".stripMargin

  /** q79's declared total budget — one constant consumed by both the
    * Spark query and its oracle, so the derived budgets cannot
    * drift. */
  private val temperatureTotalBudget = 26000L

  /** q93/q109's classifier replay: Fnv64Sql.tokHash → 2^20 feature
    * bucket → integer weight mix → exact-long sum, keep iff > 0. */
  private lazy val oracleSqlClassifier: String =
    s"""WITH toks AS (SELECT doc_id, unnest(${TF.sql.tokens("text")}) AS tok
       |  FROM documents WHERE text IS NOT NULL),
       |w AS (SELECT doc_id,
       |  ((${Fnv64Sql.tokHash} % 1048576) * 2654435761 // 65536) % 65536
       |    - 32768 AS w FROM toks),
       |s AS (SELECT doc_id, sum(w) AS score, count(*) AS n FROM w GROUP BY 1)
       |SELECT d.doc_id,
       |  CAST(coalesce(s.score, 0) AS BIGINT) AS clf_score,
       |  CAST(coalesce(s.n, 0) AS INTEGER) AS n_tokens,
       |  CAST(coalesce(s.score, 0) > 0 AS INTEGER) AS keep
       |FROM documents d LEFT JOIN s ON s.doc_id = d.doc_id
       |WHERE d.text IS NOT NULL""".stripMargin

  /** q109's oracle — the four-gate verdict frame (gopher repetition,
    * perplexity band, classifier, exact-dedup keeper) with the
    * all-pass flag; q166 rolls the same frame up to its agreement
    * matrix, so the two gates share one definition by construction. */
  private lazy val filterStackOracleSql: String =
    s"""WITH rep AS (
       |${graft.text.Repetition.gopherFilterOracleSql("documents", "doc_id", "text")}
       |),
       |ppl AS (
       |${perplexityBandOracleSql(3.95, 4.15)}
       |),
       |clf AS (
       |${oracleSqlClassifier}
       |),
       |fp AS (SELECT doc_id, ${TF.sql.fingerprint("text")} AS fp
       |  FROM documents),
       |keepers AS (SELECT fp, min(doc_id) AS keeper FROM fp GROUP BY 1)
       |SELECT d.doc_id,
       |  CAST(CASE WHEN r.doc_id IS NOT NULL THEN 1 ELSE 0 END
       |    AS INTEGER) AS rep_pass,
       |  CAST(coalesce(p.kept, 0) AS INTEGER) AS ppl_pass,
       |  CAST(coalesce(c.keep, 0) AS INTEGER) AS clf_pass,
       |  CAST(CASE WHEN k.keeper = d.doc_id THEN 1 ELSE 0 END
       |    AS INTEGER) AS uniq_pass,
       |  CAST(CASE WHEN r.doc_id IS NOT NULL AND p.kept = 1
       |    AND c.keep = 1 AND k.keeper = d.doc_id
       |    THEN 1 ELSE 0 END AS INTEGER) AS kept
       |FROM documents d
       |LEFT JOIN rep r ON r.doc_id = d.doc_id
       |LEFT JOIN ppl p ON p.doc_id = d.doc_id
       |LEFT JOIN clf c ON c.doc_id = d.doc_id
       |LEFT JOIN fp f ON f.doc_id = d.doc_id
       |LEFT JOIN keepers k ON k.fp = f.fp""".stripMargin

  val specs: Seq[QuerySpec] = Seq(
    // Token counting (whitespace tokenizer, codegen'd HOFs).
    QuerySpec("q11_token_stats")((s, dir) => {
      documents(s, dir).select(
        col("doc_id"),
        TF.tokenCount(col("text")).as("n_tokens"),
        length(col("text")).as("len_chars"))
    })(
      s"""SELECT doc_id, ${TF.sql.tokenCount("text")} AS n_tokens,
         | CAST(length(text) AS INTEGER) AS len_chars
         |FROM documents""".stripMargin),

    // BPE-ish regex token counting (subword-tokenizer upper bound).
    QuerySpec("q31_bpe_tokens")((s, dir) => {
      documents(s, dir).select(
        col("doc_id"),
        TF.bpeTokenCount(col("text")).as("n_bpe_tokens"),
        TF.tokenCount(col("text")).as("n_ws_tokens"))
    })(
      s"""SELECT doc_id, ${TF.sql.bpeTokenCount("text")} AS n_bpe_tokens,
         | ${TF.sql.tokenCount("text")} AS n_ws_tokens
         |FROM documents""".stripMargin),

    // Quality scoring: length/punctuation/stopword signals.
    QuerySpec("q12_quality_score")((s, dir) => {
      val d = documents(s, dir)
        .withColumn("n_tokens", TF.tokenCount(col("text")))
        .withColumn("punct_cnt", TF.punctCount(col("text")))
        .withColumn("stop_cnt", TF.hitCount(col("text"), TF.stopEn))
      d.select(
        col("doc_id"), col("n_tokens"), col("punct_cnt"), col("stop_cnt"),
        (col("stop_cnt") / col("n_tokens")).as("stop_ratio"),
        (length(regexp_replace(col("text"), "\\s", "")) / col("n_tokens"))
          .as("avg_token_len"),
        when(col("n_tokens").between(5, 1000) &&
          col("stop_cnt") / col("n_tokens") > 0.01, 1).otherwise(0)
          .as("quality_ok"))
    })(
      s"""SELECT doc_id, n_tokens, punct_cnt, stop_cnt,
         | stop_cnt / n_tokens AS stop_ratio,
         | CAST(length(regexp_replace(text, '\\s', '', 'g')) AS INTEGER)
         |   / n_tokens AS avg_token_len,
         | CASE WHEN n_tokens BETWEEN 5 AND 1000
         |   AND stop_cnt / n_tokens > 0.01 THEN 1 ELSE 0 END AS quality_ok
         |FROM (SELECT doc_id, text,
         |  ${TF.sql.tokenCount("text")} AS n_tokens,
         |  ${TF.sql.punctCount("text")} AS punct_cnt,
         |  ${TF.sql.hitCount("text", TF.stopEn)} AS stop_cnt
         |  FROM documents)""".stripMargin),

    // Language-ID heuristic vs the labeled lang column (confusion counts).
    QuerySpec("q13_lang_id")((s, dir) => {
      documents(s, dir)
        .select(col("lang"), TF.langId(col("text")).as("pred_lang"))
        .groupBy(col("lang"), col("pred_lang"))
        .agg(count(lit(1)).as("n_docs"))
    })(
      s"""SELECT lang, ${TF.sql.langId("text")} AS pred_lang,
         | count(*) AS n_docs
         |FROM documents GROUP BY 1, 2""".stripMargin),

    // Hashed-linear quality classifier (exprs.ClassifierScore64): the
    // fastText-style classifier gate of the DCLM / FineWeb-Edu
    // pipelines — score every doc with a linear model over 2^20
    // hashed token features, keep above threshold. One codegen'd
    // kernel call per row, zero shuffle, integer-exact (Long sum), so
    // the full score column hash-matches a DuckDB HUGEINT replay of
    // the same FNV-1a/fmix64 + weight-mix arithmetic. The synthetic
    // weight mix is the trained-coefficient seam (see the kernel's
    // scaladoc); swapping in real weights changes the lookup, not the
    // plan.
    QuerySpec("q93_quality_classifier")((s, dir) =>
      documents(s, dir).where(col("text").isNotNull)
        .select(col("doc_id"),
          graft.functions.exprs.classifier_score(TF.tokens(col("text")))
            .as("clf_score"),
          TF.tokenCount(col("text")).as("n_tokens"))
        .withColumn("keep", (col("clf_score") > 0L).cast("int")))(
      // Full replay of the hashed-linear classifier: Fnv64Sql.tokHash
      // (unsigned HUGEINT) → low-20-bit bucket → the same Knuth-mix
      // weight, summed per doc. Every intermediate is a nonneg integer
      // < 2^52, so the arithmetic is exact in both engines; the LEFT
      // JOIN + coalesce covers zero-token docs (Spark's empty token
      // array scores 0).
      oracleSqlClassifier),

    // Gopher-style structural repetition statistics (text.Repetition):
    // duplicate line/paragraph fractions (occurrence and character
    // weighted) plus top-{2,3,4}-gram character fractions — the
    // published corpus-filter thresholds' inputs, each an explode +
    // two map-side-combinable aggregates, fractions as IEEE divisions
    // of exact Long sums (cross-engine hashable).
    QuerySpec("q94_repetition_stats")((s, dir) =>
      graft.text.Repetition.stats(documents(s, dir), "doc_id", "text"))(
      // Oracle built by the operator itself (graft.text.Repetition) so
      // split rules, tie-breaks, and zero-fills cannot drift.
      graft.text.Repetition.statsOracleSql("documents", "doc_id", "text")),

    // The published Gopher repetition GATE over those stats — the
    // corpus-filter decision itself, cross-engine exact because every
    // threshold compares identically-computed doubles.
    QuerySpec("q100_gopher_filter")((s, dir) =>
      graft.text.Repetition.gopherFilter(documents(s, dir), "doc_id", "text"))(
      graft.text.Repetition.gopherFilterOracleSql("documents", "doc_id", "text")),

    // Corpus unigram-LM perplexity-band filter (text.UnigramLm): the
    // CCNet keep-the-middle decision with WHOLE-BIT quantized
    // surprisal — floor-log2 via integer bit length, no libm log, so
    // per-doc sums are exact longs and the band decision hash-gates
    // cross-engine. Band picked to split this corpus around its
    // median mean-surprisal (~4.03 bits/token).
    QuerySpec("q101_perplexity_band")((s, dir) =>
      graft.text.UnigramLm.perplexityBand(documents(s, dir), "doc_id",
        "text", lo = 4.0, hi = 4.04))(
      // Whole-bit surprisal replay: floor(log2 q) as length(bin(q))-1 —
      // pure integer arithmetic, identical in both engines; the mean is
      // the one IEEE division.
      perplexityBandOracleSql(4.0, 4.04)),

    // DSIR-style importance selection (text.UnigramLm): deterministic
    // top-200 raw docs by quantized log-likelihood ratio toward the
    // English-document target domain (add-one-smoothed unigram LMs on
    // both sides, whole-bit arithmetic as q101).
    QuerySpec("q103_dsir_select")((s, dir) => {
      val d = documents(s, dir)
      graft.text.UnigramLm.importanceRank(d,
        d.filter(col("lang") === "en"), "doc_id", "text", topN = 200)
    })(
      // q101's bit-length arithmetic, add-one smoothed on both LMs;
      // raw tokens unseen in the target fall to the target's OOV
      // surprisal floor(log2(N_t + V_t)).
      s"""WITH rtoks AS (SELECT doc_id, unnest(${TF.sql.tokens("text")})
         |    AS token FROM documents),
         |ttoks AS (SELECT unnest(${TF.sql.tokens("text")}) AS token
         |  FROM documents WHERE lang = 'en'),
         |rcnt AS (SELECT token, count(*) AS c_r FROM rtoks GROUP BY 1),
         |tcnt AS (SELECT token, count(*) AS c_t FROM ttoks GROUP BY 1),
         |rtot AS (SELECT CAST(sum(c_r) AS BIGINT) AS n_r,
         |  CAST(count(*) AS BIGINT) AS v_r FROM rcnt),
         |ttot AS (SELECT CAST(sum(c_t) AS BIGINT) AS n_t,
         |  CAST(count(*) AS BIGINT) AS v_t FROM tcnt),
         |sr AS (SELECT token,
         |  CAST(length(bin((n_r + v_r) // (c_r + 1))) - 1 AS INTEGER)
         |    AS s_r FROM rcnt, rtot),
         |st AS (SELECT token,
         |  CAST(length(bin((n_t + v_t) // (c_t + 1))) - 1 AS INTEGER)
         |    AS s_t FROM tcnt, ttot),
         |scored AS (SELECT r.doc_id, count(*) AS n_tokens,
         |    CAST(sum(sr.s_r - coalesce(st.s_t,
         |      (SELECT CAST(length(bin(n_t + v_t)) - 1 AS INTEGER)
         |       FROM ttot))) AS BIGINT) AS llr_q
         |  FROM rtoks r JOIN sr USING (token)
         |  LEFT JOIN st USING (token) GROUP BY 1)
         |SELECT doc_id, CAST(n_tokens AS BIGINT) AS n_tokens, llr_q,
         |  CAST(row_number() OVER (ORDER BY llr_q DESC, doc_id ASC)
         |    AS INTEGER) AS rank
         |FROM scored ORDER BY llr_q DESC, doc_id ASC LIMIT 200""".stripMargin),

    // Vocabulary coverage (text.Vocab.oovProfile): top-100 frequency
    // vocabulary (broadcast), per-doc OOV mass against it — the
    // tokenizer-coverage screen; corpus never shuffles for the probe.
    QuerySpec("q114_vocab_oov")((s, dir) =>
      graft.text.Vocab.oovProfile(documents(s, dir), "doc_id", "text",
        topV = 100))(
      // Frequency-cut vocabulary replay: the same (cnt DESC, token ASC)
      // total order decides the top-100 boundary in both engines; per-
      // value arithmetic is exact longs until the one rate division.
      s"""WITH toks AS (SELECT doc_id, unnest(${TF.sql.tokens("text")})
         |    AS token FROM documents),
         |cnt AS (SELECT token, count(*) AS cnt FROM toks GROUP BY 1),
         |vocab AS (SELECT token FROM (
         |    SELECT token, row_number() OVER (
         |      ORDER BY cnt DESC, token ASC) AS vr FROM cnt)
         |  WHERE vr <= 100),
         |per AS (SELECT t.doc_id, count(*) AS n_tokens,
         |    sum(CASE WHEN v.token IS NULL THEN 1 ELSE 0 END) AS n_oov
         |  FROM toks t LEFT JOIN vocab v ON t.token = v.token
         |  GROUP BY 1)
         |SELECT d.doc_id,
         |  CAST(coalesce(p.n_tokens, 0) AS BIGINT) AS n_tokens,
         |  CAST(coalesce(p.n_oov, 0) AS BIGINT) AS n_oov,
         |  CASE WHEN coalesce(p.n_tokens, 0) = 0 THEN 0.0
         |    ELSE CAST(p.n_oov AS DOUBLE) / CAST(p.n_tokens AS DOUBLE)
         |  END AS oov_rate
         |FROM documents d LEFT JOIN per p USING (doc_id)""".stripMargin),

    // Per-source lexical diversity (text.Vocab.diversityProfile):
    // unigram + bigram type-token ratios — the templated-source
    // screen per-doc stats can't see.
    QuerySpec("q115_diversity")((s, dir) =>
      graft.text.Vocab.diversityProfile(documents(s, dir), "source",
        "text"))(
      // The q94 gram CTE shape (array slice over token positions) at
      // n = 2, rolled up per source with exact distinct counts.
      s"""WITH base AS (SELECT source, ${TF.sql.tokens("text")} AS tk
         |  FROM documents),
         |toks AS (SELECT source, unnest(tk) AS token FROM base),
         |ta AS (SELECT source, count(*) AS n_tokens,
         |    count(DISTINCT token) AS n_distinct_tokens
         |  FROM toks GROUP BY 1),
         |bi AS (SELECT source, array_to_string(tk[i:i+1], ' ') AS g
         |  FROM (SELECT source, tk,
         |      CAST(unnest(range(1, len(tk))) AS INTEGER) AS i
         |    FROM base WHERE len(tk) >= 2)),
         |ba AS (SELECT source, count(*) AS n_bigrams,
         |    count(DISTINCT g) AS n_distinct_bigrams
         |  FROM bi GROUP BY 1)
         |SELECT ta.source,
         |  CAST(ta.n_tokens AS BIGINT) AS n_tokens,
         |  CAST(ta.n_distinct_tokens AS BIGINT) AS n_distinct_tokens,
         |  CAST(ta.n_distinct_tokens AS DOUBLE) /
         |    CAST(ta.n_tokens AS DOUBLE) AS ttr,
         |  CAST(coalesce(ba.n_bigrams, 0) AS BIGINT) AS n_bigrams,
         |  CAST(coalesce(ba.n_distinct_bigrams, 0) AS BIGINT)
         |    AS n_distinct_bigrams,
         |  CASE WHEN coalesce(ba.n_bigrams, 0) = 0 THEN 0.0
         |    ELSE CAST(ba.n_distinct_bigrams AS DOUBLE) /
         |      CAST(ba.n_bigrams AS DOUBLE)
         |  END AS bigram_ttr
         |FROM ta LEFT JOIN ba USING (source)""".stripMargin),

    // BPE merge-candidate statistics (text.Vocab.mergePairStats):
    // top-20 adjacent token pairs by corpus count — iteration one of
    // merge learning, map-side-combined then sort-limited.
    QuerySpec("q116_merge_pairs")((s, dir) =>
      graft.text.Vocab.mergePairStats(documents(s, dir), "text",
        topK = 20))(
      s"""WITH base AS (SELECT ${TF.sql.tokens("text")} AS tk
         |  FROM documents),
         |bi AS (SELECT array_to_string(tk[i:i+1], ' ') AS pair
         |  FROM (SELECT tk,
         |      CAST(unnest(range(1, len(tk))) AS INTEGER) AS i
         |    FROM base WHERE len(tk) >= 2)),
         |cnt AS (SELECT pair, count(*) AS cnt FROM bi GROUP BY 1)
         |SELECT pair, CAST(cnt AS BIGINT) AS cnt,
         |  CAST(mr AS INTEGER) AS mrank FROM (
         |  SELECT pair, cnt, row_number() OVER (
         |    ORDER BY cnt DESC, pair ASC) AS mr FROM cnt)
         |WHERE mr <= 20""".stripMargin),

    // Tokenizer APPLY (text.Vocab.encode): corpus encoded against the
    // top-100 vocabulary — rank ids 1..V, OOV -> 0, per doc in
    // position order (comma-joined fixed image, the q53 convention).
    QuerySpec("q119_vocab_encode")((s, dir) =>
      graft.text.Vocab.encode(documents(s, dir), "doc_id", "text",
        topV = 100))(
      // The q114 vocabulary boundary replayed, then per-position rank
      // lookup reassembled in order — same comma-joined fixed image.
      s"""WITH toks AS (SELECT doc_id, unnest(tk) AS token,
         |    generate_subscripts(tk, 1) - 1 AS pos
         |  FROM (SELECT doc_id, ${TF.sql.tokens("text")} AS tk
         |        FROM documents)),
         |cnt AS (SELECT token, count(*) AS cnt FROM toks GROUP BY 1),
         |vocab AS (SELECT token, vr FROM (
         |    SELECT token, row_number() OVER (
         |      ORDER BY cnt DESC, token ASC) AS vr FROM cnt)
         |  WHERE vr <= 100),
         |mapped AS (SELECT t.doc_id, t.pos,
         |    CAST(coalesce(v.vr, 0) AS INTEGER) AS tid
         |  FROM toks t LEFT JOIN vocab v ON t.token = v.token),
         |reb AS (SELECT doc_id,
         |    string_agg(CAST(tid AS VARCHAR), ',' ORDER BY pos)
         |      AS token_ids,
         |    count(*) AS n_tokens
         |  FROM mapped GROUP BY 1)
         |SELECT d.doc_id,
         |  coalesce(r.token_ids, '') AS token_ids,
         |  CAST(coalesce(r.n_tokens, 0) AS BIGINT) AS n_tokens
         |FROM documents d LEFT JOIN reb r USING (doc_id)""".stripMargin),

    // C4-style line-level quality filter (text.LineQuality.c4Filter):
    // per-line prose gates + doc-level gates ("lorem ipsum", '{'),
    // cleaned text rejoined in line order; one projection pass, zero
    // shuffles. This corpus is a single-line token stream with no
    // terminal punctuation, so the query runs the transcript
    // configuration (requirePunct=false, >=12 words, >=1 kept line)
    // — the verdict discriminates by the word-count rule; the full
    // published gate incl. punctuation is pinned in LineQualitySpec.
    QuerySpec("q125_line_filter")((s, dir) =>
      graft.text.LineQuality.c4Filter(documents(s, dir), "doc_id",
        "text", minKeptLines = 1, minWords = 12, requirePunct = false))(
      // The C4 line + doc gates replayed over the same split pieces
      // (string_split keeps empties exactly like Spark's limit -1).
      """WITH d AS (SELECT doc_id, text,
        |  string_split(text, chr(10)) AS L FROM documents),
        |x AS (SELECT doc_id, text, L,
        |  list_filter(L, l ->
        |    len(list_filter(string_split_regex(l, '\s+'), w -> w <> '')) >= 12
        |    AND NOT contains(lower(l), 'javascript')) AS KL
        |  FROM d)
        |SELECT doc_id,
        |  CAST(len(L) AS INTEGER) AS n_lines,
        |  CAST(len(KL) AS INTEGER) AS n_kept,
        |  (len(KL) >= 1 AND NOT contains(lower(text), 'lorem ipsum')
        |    AND NOT contains(text, '{')) AS kept,
        |  COALESCE(array_to_string(KL, chr(10)), '') AS text_clean
        |FROM x""".stripMargin),

    // Unicode canonicalizer (functions.exprs.normalize_text, custom
    // codegen'd Expression): NFC + ROOT lower + whitespace collapse +
    // trim in one kernel pass — run over a deliberately messy concat
    // (mixed-case segment, tab, double spaces) so every row exercises
    // the collapse and case paths.
    QuerySpec("q131_normalize_text")((s, dir) => {
      val src = concat(col("c_name"), lit("\t "), col("c_mktsegment"),
        lit("  "), col("c_acctbal").cast("string"))
      customer(s, dir).select(col("c_custkey"),
        graft.functions.exprs.normalize_text(src).as("text_norm"),
        (graft.functions.exprs.normalize_text(src) =!= src).as("changed"))
    })(
      // The one-pass kernel's composition, spelled in built-ins:
      // NFC -> lower -> collapse \s+ -> trim.
      """WITH c AS (SELECT c_custkey,
        |  c_name || chr(9) || ' ' || c_mktsegment || '  ' ||
        |    CAST(c_acctbal AS VARCHAR) AS src FROM customer)
        |SELECT c_custkey,
        |  trim(regexp_replace(lower(nfc_normalize(src)), '\s+', ' ', 'g'))
        |    AS text_norm,
        |  trim(regexp_replace(lower(nfc_normalize(src)), '\s+', ' ', 'g'))
        |    <> src AS changed
        |FROM c""".stripMargin),

    // PMI-style collocation mining (text.Vocab.collocations): top-20
    // bigrams by fixed-point lift (n_pair*10^6 div n1*n2 — orders as
    // PMI for a fixed corpus), hapax-pruned before the joins.
    QuerySpec("q133_collocations")((s, dir) =>
      graft.text.Vocab.collocations(documents(s, dir), "text",
        topK = 20, minCount = 5))(
      // The q116 bigram slice + unigram counts + the same integer lift.
      s"""WITH base AS (SELECT ${TF.sql.tokens("text")} AS tk
         |  FROM documents),
         |uni AS (SELECT unnest(tk) AS token FROM base),
         |uc AS (SELECT token, count(*) AS cnt FROM uni GROUP BY 1),
         |bi AS (SELECT array_to_string(tk[i:i+1], ' ') AS pair
         |  FROM (SELECT tk,
         |      CAST(unnest(range(1, len(tk))) AS INTEGER) AS i
         |    FROM base WHERE len(tk) >= 2)),
         |bc AS (SELECT pair, count(*) AS n_pair FROM bi GROUP BY 1
         |  HAVING count(*) >= 5),
         |sc AS (
         |  SELECT b.pair, b.n_pair, u1.cnt AS n1, u2.cnt AS n2,
         |    (b.n_pair * 1000000) // (u1.cnt * u2.cnt) AS lift_fp
         |  FROM bc b
         |  JOIN uc u1 ON u1.token = string_split(b.pair, ' ')[1]
         |  JOIN uc u2 ON u2.token = string_split(b.pair, ' ')[2])
         |SELECT pair, CAST(n_pair AS BIGINT) AS n_pair,
         |  CAST(n1 AS BIGINT) AS n1, CAST(n2 AS BIGINT) AS n2,
         |  CAST(lift_fp AS BIGINT) AS lift_fp, CAST(cr AS INTEGER) AS crank
         |FROM (SELECT *, row_number() OVER (
         |    ORDER BY lift_fp DESC, n_pair DESC, pair ASC) AS cr FROM sc)
         |WHERE cr <= 20""".stripMargin),

    // Chi-square token–label feature selection (text.Vocab
    // .chiSquareTokens): the top-50 tokens most associated with the
    // lang='en' label — the feature pass behind n-gram language-ID
    // and quality-classifier vocabularies. 2×2 presence contingency
    // per token, chi2 in 10^-4 fixed point via DECIMAL(38,0)
    // integral divisions (exact envelope ~2·10^9 docs; DuckDB
    // replays in HUGEINT), hapax-pruned before arithmetic.
    QuerySpec("q190_chi2_tokens")((s, dir) =>
      graft.text.Vocab.chiSquareTokens(documents(s, dir), "text",
        col("lang") === "en", topK = 50, minDf = 5))(
      // The 2×2 chi-square replayed in HUGEINT: same presence counts
      // (list_distinct ≡ array_distinct for counting), same two
      // integral divisions in the same grouping, so the fixed-point
      // ranking is bit-identical.
      s"""WITH base AS (SELECT lang = 'en' AS lbl,
         |    list_distinct(${TF.sql.tokens("text")}) AS tk
         |  FROM documents WHERE text IS NOT NULL),
         |tot AS (SELECT COUNT(*) AS n,
         |    SUM(CASE WHEN lbl THEN 1 ELSE 0 END) AS c1 FROM base),
         |pt AS (SELECT token, COUNT(*) AS df,
         |    SUM(CASE WHEN lbl THEN 1 ELSE 0 END) AS a
         |  FROM (SELECT lbl, unnest(tk) AS token FROM base)
         |  GROUP BY 1 HAVING COUNT(*) >= 5),
         |sc AS (SELECT token, df, a, df - a AS b, c1 - a AS cc,
         |    n - df - (c1 - a) AS dd, n, c1
         |  FROM pt, tot WHERE df < n),
         |ch AS (SELECT token, df, a AS label_df,
         |  CASE WHEN c1 > 0 AND n > c1 THEN
         |    CAST((CAST(a AS HUGEINT) * dd - CAST(b AS HUGEINT) * cc)
         |      * (CAST(a AS HUGEINT) * dd - CAST(b AS HUGEINT) * cc)
         |      // (CAST(df AS HUGEINT) * (n - df))
         |      * CAST(10000 AS HUGEINT) * n
         |      // (CAST(c1 AS HUGEINT) * (n - c1)) AS BIGINT)
         |  END AS chi2_fp FROM sc)
         |SELECT token, CAST(df AS BIGINT) AS df,
         |  CAST(label_df AS BIGINT) AS label_df, chi2_fp,
         |  CAST(cr AS INTEGER) AS crank
         |FROM (SELECT *, row_number() OVER (
         |    ORDER BY chi2_fp DESC, df DESC, token ASC) AS cr FROM ch)
         |WHERE cr <= 50""".stripMargin),

    // Source vocabulary-overlap matrix (text.Vocab
    // .vocabOverlapMatrix): Jaccard over per-source token SETS —
    // q82 catches shared documents, this catches shared LANGUAGE
    // (two crawls of one template ecosystem); low overlap buys
    // mixture breadth. Unordered pairs, one integral division.
    QuerySpec("q205_vocab_overlap")((s, dir) =>
      graft.text.Vocab.vocabOverlapMatrix(documents(s, dir),
        "text", "source"))(
      // Distinct (source, token) presence + token-keyed self-join +
      // the same one-division Jaccard.
      s"""WITH v AS (SELECT DISTINCT source AS src, token FROM (
         |  SELECT source, unnest(${TF.sql.tokens("text")}) AS token
         |  FROM documents WHERE text IS NOT NULL)),
         |sz AS (SELECT src, CAST(count(*) AS BIGINT) AS sz
         |  FROM v GROUP BY 1),
         |i AS (SELECT a.src AS src_a, b.src AS src_b,
         |  CAST(count(*) AS BIGINT) AS inter
         |  FROM v a JOIN v b ON a.token = b.token AND a.src < b.src
         |  GROUP BY 1, 2)
         |SELECT i.src_a, i.src_b, i.inter,
         |  sa.sz AS sz_a, sb.sz AS sz_b,
         |  CAST(i.inter * 1000000 // (sa.sz + sb.sz - i.inter) AS BIGINT)
         |    AS jaccard_fp
         |FROM i JOIN sz sa ON sa.src = i.src_a
         |JOIN sz sb ON sb.src = i.src_b""".stripMargin),

    // Gate agreement matrix: q109's four-gate verdict frame rolled
    // up to its 2^4 cells — the filter-stack tuning report ("which
    // gate binds; how many docs fail exactly one"). Pure rollup of
    // the shared verdict frame; the oracle shares q109's SQL.
    QuerySpec("q166_gate_matrix")((s, dir) =>
      graft.text.FilterStack.modernGates(documents(s, dir), "doc_id",
          "text", pplLo = 3.95, pplHi = 4.15)
        .groupBy(col("rep_pass"), col("ppl_pass"), col("clf_pass"),
          col("uniq_pass"))
        .agg(count(lit(1)).as("n_docs")))(
      // q109's per-doc verdict frame rolled up to the 2^4 agreement
      // cells — which gate binds, which docs fail exactly one.
      s"""SELECT rep_pass, ppl_pass, clf_pass, uniq_pass,
         |  count(*) AS n_docs
         |FROM (
         |$filterStackOracleSql
         |) GROUP BY 1, 2, 3, 4""".stripMargin),

    // Cluster keyword profiling (text.Vocab.clusterKeywords): the
    // c-TF-IDF labeling step — per source, the top-5 3-shingle terms
    // by carrying-docs * whole-bit idf over clusters-as-meta-
    // documents; a term in every cluster scores exactly zero. "What
    // IS this source" — the label a cluster browser shows.
    QuerySpec("q159_cluster_keywords")((s, dir) =>
      graft.text.Vocab.clusterKeywords(documents(s, dir), "source",
          "text", k = 5, shingleK = 3)
        .withColumnRenamed("cluster", "source"))(
      // The q59 shingle CTE grouped by source as clusters-as-meta-
      // documents + the q106 whole-bit idf; ties token-DESC (the
      // struct max-heap's order).
      s"""WITH toks AS (SELECT doc_id, source AS cluster,
         |  ${TF.sql.tokens("text")} AS T FROM documents),
         |base AS (SELECT doc_id, cluster, T, len(T) AS m FROM toks),
         |idx AS (SELECT doc_id, cluster, T, m,
         |  unnest(range(1, greatest(m-2, 1)+1)) AS i FROM base),
         |sh AS (SELECT DISTINCT doc_id, cluster,
         |  CASE WHEN m < 3 THEN array_to_string(T, ' ')
         |       ELSE array_to_string(
         |         list_slice(T, CAST(i AS INTEGER), CAST(i AS INTEGER)+2), ' ')
         |  END AS token FROM idx),
         |tf AS (SELECT cluster, token, count(*) AS tf FROM sh
         |  GROUP BY 1, 2),
         |dfc AS (SELECT token, count(*) AS dfc FROM tf GROUP BY 1),
         |nc AS (SELECT count(DISTINCT cluster) AS n_clusters FROM tf),
         |sc AS (SELECT tf.cluster, tf.token, tf.tf, dfc.dfc,
         |  tf.tf * (length(bin(n_clusters // dfc.dfc)) - 1) AS score
         |  FROM tf JOIN dfc USING (token), nc),
         |r AS (SELECT *, row_number() OVER (PARTITION BY cluster
         |    ORDER BY score DESC, token DESC) AS rnk
         |  FROM sc WHERE score > 0)
         |SELECT cluster AS source, token,
         |  CAST(tf AS BIGINT) AS tf, CAST(dfc AS BIGINT) AS dfc,
         |  CAST(score AS BIGINT) AS score, CAST(rnk AS INTEGER) AS rank
         |FROM r WHERE rnk <= 5""".stripMargin),

    // Vocabulary coverage curve (text.Vocab.coverageCurve): at each
    // power-of-two vocab size, the corpus token mass the top-k types
    // cover — the "how big a tokenizer budget" plot; exact type ranks
    // and running mass via the constant-segment two-phase machinery.
    QuerySpec("q156_vocab_coverage")((s, dir) =>
      graft.text.Vocab.coverageCurve(documents(s, dir), "text"))(
      // Frequency CTE + the global rank/running-sum windows the
      // two-phase machinery is bit-identical to.
      s"""WITH toks AS (SELECT unnest(${TF.sql.tokens("text")}) AS token
         |  FROM documents),
         |f AS (SELECT token, count(*) AS cnt FROM toks GROUP BY 1),
         |r AS (SELECT token, cnt,
         |  row_number() OVER (ORDER BY cnt DESC, token) AS rn,
         |  sum(cnt) OVER (ORDER BY cnt DESC, token
         |    ROWS UNBOUNDED PRECEDING) AS cum FROM f),
         |t AS (SELECT sum(cnt) AS total FROM f)
         |SELECT CAST(rn AS BIGINT) AS vocab_k, token, cnt,
         |  CAST(cum AS BIGINT) AS cum_mass,
         |  CAST(total AS BIGINT) AS total_mass,
         |  CAST(cum AS BIGINT) / CAST(total AS BIGINT) AS coverage
         |FROM r, t
         |WHERE rn IN (1, 2, 4, 8, 16, 32, 64, 128, 256, 512, 1024,
         |  2048, 4096, 8192, 16384)""".stripMargin),

    // Content-defined chunking (TextFunctions.contentChunks): chunk
    // boundaries keyed on token-hash content, not position — an edit
    // perturbs only its own chunk, the property dedup storage needs;
    // per-chunk XOR fingerprints, fully FNV-replayed by the oracle.
    QuerySpec("q186_cdc_chunks")((s, dir) =>
      graft.text.TextFunctions.contentChunks(
        documents(s, dir).where(col("text").isNotNull),
        "doc_id", "text", modulus = 16))(
      // Positional tokens (the q73 idx pattern), the FNV/fmix HUGEINT
      // replay, two's-complement down-cast for the XOR leg, unsigned
      // mod for the boundary test (u % m == 0 iff pmod(signed, m) == 0:
      // 2^64 is divisible by any power-of-two modulus), then the same
      // strictly-before running sum.
      s"""WITH base AS (SELECT doc_id, ${TF.sql.tokens("text")} AS T
         |  FROM documents WHERE text IS NOT NULL),
         |idx AS (SELECT doc_id, T, unnest(range(1, len(T)+1)) AS i
         |  FROM base),
         |tk AS (SELECT doc_id, CAST(i AS INTEGER) - 1 AS pos,
         |  T[CAST(i AS INTEGER)] AS tok FROM idx),
         |hh AS (SELECT doc_id, pos, ${Fnv64Sql.tokHash} AS u FROM tk),
         |sg AS (SELECT doc_id, pos,
         |  CAST(CASE WHEN u >= 9223372036854775808::HUGEINT
         |    THEN u - ${Fnv64Sql.m64} ELSE u END AS BIGINT) AS h,
         |  CASE WHEN u % 16 = 0 THEN 1 ELSE 0 END AS b FROM hh),
         |c AS (SELECT doc_id, pos, h,
         |  coalesce(sum(b) OVER (PARTITION BY doc_id ORDER BY pos
         |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
         |    AS chunk FROM sg)
         |SELECT doc_id, CAST(chunk AS BIGINT) AS chunk,
         |  CAST(count(*) AS BIGINT) AS n_tokens,
         |  CAST(min(pos) AS INTEGER) AS start_pos,
         |  CAST(bit_xor(h) AS BIGINT) AS chunk_fp
         |FROM c GROUP BY 1, 2""".stripMargin),

    // Mixed-language detection (text.LangConsistency.mixedLanguage):
    // language-ID per 32-token chunk, majority + agreement per doc —
    // the CCNet per-paragraph discipline that catches the 60%-English
    // page wrapped around a German article; mixed = under 80% chunk
    // agreement (integer cross-multiplication, no division).
    QuerySpec("q152_mixed_language")((s, dir) =>
      graft.text.LangConsistency.mixedLanguage(
        documents(s, dir), "doc_id", "text", chunkSize = 32))({
      // q35's chunk query (stride = size) + the q13 langId CASE per
      // chunk + a window-ranked majority (ties to the smallest lang).
      val ch = TF.sql.chunksQuery("documents", "doc_id", "text",
        chunkSize = 32, stride = 32)
      s"""WITH cl AS (SELECT doc_id, ${TF.sql.langId("chunk")} AS cl
         |  FROM ($ch)),
         |pl AS (SELECT doc_id, cl, count(*) AS n FROM cl GROUP BY 1, 2),
         |mj AS (SELECT doc_id, cl, n,
         |  row_number() OVER (PARTITION BY doc_id ORDER BY n DESC, cl) AS r,
         |  sum(n) OVER (PARTITION BY doc_id) AS tot FROM pl)
         |SELECT doc_id, cl AS major_lang, CAST(tot AS BIGINT) AS n_chunks,
         |  CAST(n AS BIGINT) AS n_major, n * 5 < tot * 4 AS mixed
         |FROM mj WHERE r = 1""".stripMargin
    }),

    // Inter-snapshot distribution drift (ops.Snapshot.driftReport):
    // token-length bins (width 10) of the q134 snapshots, per-bin
    // share ratio in fixed point — the population-shift monitor the
    // id-level diff can't see; one-sided bins always flag.
    QuerySpec("q138_drift_report")((s, dir) => {
      val d = documents(s, dir)
      val oldSnap = d.filter(col("doc_id") % 7 =!= 0)
        .select(TF.tokenCount(col("text")).as("n_tokens"))
      val newSnap = d.filter(col("doc_id") % 5 =!= 0)
        .withColumn("text", when(col("doc_id") % 11 === 0,
          concat(col("text"), lit(" [rev2]"))).otherwise(col("text")))
        .select(TF.tokenCount(col("text")).as("n_tokens"))
      graft.ops.Snapshot.driftReport(oldSnap, newSnap, "n_tokens",
        binWidth = 10, tolerance = 2000)
    })(
      // The q134 snapshots re-bucketed by token-length bin and the
      // same fixed-point share ratio.
      s"""WITH o AS (SELECT ${TF.sql.tokenCount("text")} AS v
         |  FROM documents WHERE doc_id % 7 <> 0),
         |n AS (SELECT CAST(len(list_filter(string_split_regex(
         |    CASE WHEN doc_id % 11 = 0 THEN text || ' [rev2]' ELSE text END,
         |    '\\s+'), t -> t <> '')) AS INTEGER) AS v
         |  FROM documents WHERE doc_id % 5 <> 0),
         |ob AS (SELECT v // 10 AS bucket, count(*) AS old_n FROM o GROUP BY 1),
         |nb AS (SELECT v // 10 AS bucket, count(*) AS new_n FROM n GROUP BY 1),
         |j AS (SELECT COALESCE(ob.bucket, nb.bucket) AS bucket,
         |  COALESCE(old_n, 0) AS old_n, COALESCE(new_n, 0) AS new_n
         |  FROM ob FULL OUTER JOIN nb ON ob.bucket = nb.bucket),
         |t AS (SELECT *, sum(old_n) OVER () AS ot, sum(new_n) OVER () AS nt
         |  FROM j)
         |SELECT CAST(bucket AS BIGINT) AS bucket,
         |  CAST(old_n AS BIGINT) AS old_n, CAST(new_n AS BIGINT) AS new_n,
         |  CAST(CASE WHEN old_n > 0 AND new_n > 0
         |    THEN (new_n * ot * 10000) // (old_n * nt) END AS BIGINT)
         |    AS ratio_fp,
         |  COALESCE(abs((CASE WHEN old_n > 0 AND new_n > 0
         |    THEN (new_n * ot * 10000) // (old_n * nt) END) - 10000) > 2000,
         |    TRUE) AS drifted
         |FROM t""".stripMargin),

    // Per-source two-sample KS drift (ops.Snapshot.ksDrift): the
    // binless ECDF companion to q138 over the same snapshot pair —
    // grouped by source so each upstream feed gets its own verdict.
    // KS in integer micro-units (each ECDF quantized by integral DIV
    // before differencing — bit-identical in both engines, overflow-
    // safe to ~9e12 rows/group); a feed empty on either side reports
    // the full statistic and always flags.
    QuerySpec("q189_ks_drift")((s, dir) => {
      val d = documents(s, dir).where(col("text").isNotNull)
      val oldSnap = d.filter(col("doc_id") % 7 =!= 0)
        .select(col("source"), TF.tokenCount(col("text")).as("n_tokens"))
      val newSnap = d.filter(col("doc_id") % 5 =!= 0)
        .withColumn("text", when(col("doc_id") % 11 === 0,
          concat(col("text"), lit(" [rev2]"))).otherwise(col("text")))
        .select(col("source"), TF.tokenCount(col("text")).as("n_tokens"))
      graft.ops.Snapshot.ksDrift(oldSnap, newSnap, "source", "n_tokens",
        toleranceFp = 100000L)
    })(
      // q138's snapshot pair, per-source ECDFs: the KS statistic in
      // micro-units with each ECDF quantized by integral division
      // BEFORE differencing, exactly the Spark operator's arithmetic
      // (DuckDB // on non-negative integers ≡ Spark DIV).
      s"""WITH o AS (SELECT source AS grp, ${TF.sql.tokenCount("text")} AS v
         |  FROM documents WHERE doc_id % 7 <> 0 AND text IS NOT NULL),
         |n AS (SELECT source AS grp, ${TF.sql.tokenCount(
               "CASE WHEN doc_id % 11 = 0 THEN text || ' [rev2]' ELSE text END")} AS v
         |  FROM documents WHERE doc_id % 5 <> 0 AND text IS NOT NULL),
         |u AS (SELECT grp, v, 1 AS oc, 0 AS nc FROM o
         |  UNION ALL SELECT grp, v, 0, 1 FROM n),
         |pv AS (SELECT grp, v, SUM(oc) AS oc, SUM(nc) AS nc
         |  FROM u GROUP BY 1, 2),
         |c AS (SELECT grp,
         |    SUM(oc) OVER w AS co, SUM(nc) OVER w AS cn,
         |    SUM(oc) OVER (PARTITION BY grp) AS old_n,
         |    SUM(nc) OVER (PARTITION BY grp) AS new_n
         |  FROM pv
         |  WINDOW w AS (PARTITION BY grp ORDER BY v ROWS UNBOUNDED PRECEDING)),
         |d AS (SELECT grp, old_n, new_n,
         |    CASE WHEN old_n = 0 OR new_n = 0 THEN 1000000
         |      ELSE abs(co * 1000000 // old_n - cn * 1000000 // new_n)
         |    END AS dfp
         |  FROM c)
         |SELECT grp AS source, CAST(old_n AS BIGINT) AS old_n,
         |  CAST(new_n AS BIGINT) AS new_n, CAST(max(dfp) AS BIGINT) AS ks_fp,
         |  max(dfp) > 100000 AS drifted
         |FROM d GROUP BY 1, 2, 3""".stripMargin),

    // Cross-source score calibration (text.FilterStack
    // .calibratedScores): classifier score -> per-source percentile,
    // so "keep each source's best X%" replaces a skew-blind global
    // threshold; exact two-phase ranks, one IEEE division per row.
    QuerySpec("q136_calibrated_quality")((s, dir) =>
      graft.text.FilterStack.calibratedScores(documents(s, dir),
        "doc_id", "text", "source"))(
      // The q93 score CTE + per-source percent_rank over the same
      // (score, id) total order (rank == row_number there, so DuckDB's
      // percent_rank is exactly (rn-1)/(n-1)).
      s"""WITH toks AS (SELECT doc_id, unnest(${TF.sql.tokens("text")}) AS tok
         |  FROM documents WHERE text IS NOT NULL),
         |w AS (SELECT doc_id,
         |  ((${Fnv64Sql.tokHash} % 1048576) * 2654435761 // 65536) % 65536
         |    - 32768 AS w FROM toks),
         |s AS (SELECT doc_id, sum(w) AS score FROM w GROUP BY 1),
         |sc AS (SELECT d.doc_id, d.source,
         |  CAST(COALESCE(s.score, 0) AS BIGINT) AS score
         |  FROM documents d LEFT JOIN s ON s.doc_id = d.doc_id
         |  WHERE d.text IS NOT NULL)
         |SELECT doc_id, source, score,
         |  percent_rank() OVER (PARTITION BY source
         |    ORDER BY score, doc_id) AS pct
         |FROM sc""".stripMargin),

    // Sequence-length-warmup curriculum (ops.Curriculum): whole-bit
    // length stages ascending, the q87 seeded-md5 permutation within
    // each stage, one global `pos` — ranked by the parallel two-phase
    // form the oracle's naive global window replays exactly.
    QuerySpec("q108_curriculum")((s, dir) => {
      val d = documents(s, dir)
        .withColumn("n_tokens", TF.tokenCount(col("text")))
        .withColumn("stage",
          graft.ops.Curriculum.lengthStage(col("n_tokens")))
        .select(col("doc_id"), col("n_tokens"), col("stage"))
      graft.ops.Curriculum.stagedOrder(d, "doc_id", "stage",
        seed = "cur42", nBuckets = 16)
    })(
      // The two-phase staged rank replayed by the one naive window it
      // is provably equal to (q87's md5 order, prefixed by the stage).
      s"""WITH t AS (SELECT doc_id, ${TF.sql.tokenCount("text")}
         |    AS n_tokens FROM documents),
         |s AS (SELECT doc_id, n_tokens,
         |  CAST(length(bin(n_tokens + 1)) - 1 AS INTEGER) AS stage
         |  FROM t)
         |SELECT doc_id, n_tokens, stage,
         |  CAST(row_number() OVER (ORDER BY stage,
         |      md5('cur42:' || CAST(doc_id AS VARCHAR)), doc_id) - 1
         |    AS BIGINT) AS pos
         |FROM s""".stripMargin),

    // The modern filter stack end to end (text.FilterStack): Gopher
    // repetition + CCNet perplexity band + classifier + exact-dedup
    // keeper, per-gate verdicts AND the conjunction — the funnel-
    // accounting frame a curation run consumes. Every leg reuses an
    // operator already oracle-gated alone (q100/q101/q93/q15).
    QuerySpec("q109_filter_stack")((s, dir) =>
      graft.text.FilterStack.modernGates(documents(s, dir), "doc_id",
        "text", pplLo = 3.95, pplHi = 4.15))(
      // Each leg's proven oracle nested as a CTE (DuckDB allows WITH
      // inside a CTE body), flags by id-keyed left joins — drift
      // between the stack and its constituent gates is impossible
      // because the SQL IS the constituents'.
      filterStackOracleSql),

    // PII scrubbing (training-data redaction): emails / bare IPv4s /
    // long digit runs replaced with typed sentinels. The redacted TEXT
    // itself is hash-compared against DuckDB, proving the RE2-safe
    // pattern subset behaves identically across regex engines.
    QuerySpec("q49_pii_redaction")((s, dir) => {
      documents(s, dir).select(
        col("doc_id"),
        TF.redactPii(col("text")).as("clean_text"),
        regexp_count(col("text"), lit(TF.emailRe)).as("n_emails"),
        regexp_count(col("text"), lit(TF.ipv4Re)).as("n_ips"),
        regexp_count(col("text"), lit(TF.longDigitsRe)).as("n_nums"))
    })(
      s"""SELECT doc_id, ${TF.sql.redactPii("text")} AS clean_text,
         | CAST(len(regexp_extract_all(text, '${TF.emailRe}')) AS INTEGER)
         |   AS n_emails,
         | CAST(len(regexp_extract_all(text, '${TF.ipv4Re}')) AS INTEGER)
         |   AS n_ips,
         | CAST(len(regexp_extract_all(text, '${TF.longDigitsRe}')) AS INTEGER)
         |   AS n_nums
         |FROM documents""".stripMargin),

    // Repetition quality signal (the published duplicate-fraction
    // heuristics for corpus filtering): token-level repetition ratio
    // per document, pure per-row expressions.
    QuerySpec("q46_repetition")((s, dir) => {
      val toks = TF.tokens(col("text"))
      val n = size(toks)
      val nd = size(array_distinct(toks))
      documents(s, dir).select(
        col("doc_id"),
        n.cast("int").as("n_tokens"),
        nd.cast("int").as("n_distinct_tokens"),
        when(n === 0, lit(0.0))
          .otherwise(lit(1.0) - nd.cast("double") / n).as("dup_token_ratio"))
    })(
      s"""WITH t AS (SELECT doc_id, ${TF.sql.tokens("text")} AS T
         |  FROM documents)
         |SELECT doc_id,
         |  CAST(len(T) AS INTEGER) AS n_tokens,
         |  CAST(len(list_distinct(T)) AS INTEGER) AS n_distinct_tokens,
         |  CASE WHEN len(T) = 0 THEN 0.0
         |       ELSE 1.0 - CAST(len(list_distinct(T)) AS DOUBLE)/len(T)
         |  END AS dup_token_ratio
         |FROM t""".stripMargin),

    // TF-IDF keyword extraction (log-free surrogate, top-5 per doc).
    QuerySpec("q36_tfidf_keywords")((s, dir) =>
      TF.topKeywords(documents(s, dir), "doc_id", "text", k = 5))(
      TF.sql.topKeywordsQuery("documents", "doc_id", "text", k = 5)),

    // Sliding-window document chunking (training-data segmentation):
    // 64-token windows every 48 tokens, tail-covering.
    QuerySpec("q35_chunking")((s, dir) => {
      documents(s, dir).select(col("doc_id"),
        posexplode(TF.chunks(col("text"), chunkSize = 64, stride = 48)))
        .withColumnRenamed("pos", "chunk_idx")
        .withColumnRenamed("col", "chunk")
    })(
      TF.sql.chunksQuery("documents", "doc_id", "text", 64, 48)),

    // Corpus bigram LM quality score (graft.text.NgramLm): the
    // CCNet-style in-distribution filter as exact integer arithmetic —
    // ratio of corpus-count sums instead of a log-prob mean, so the
    // score is bit-deterministic and fully oracle-gated.
    QuerySpec("q70_lm_quality")((s, dir) =>
      graft.text.NgramLm.bigramScore(documents(s, dir), "doc_id", "text"))(
      // Same ratio-of-integer-sums score; list_zip builds the bigram
      // stream the Spark side gets from zip_with over token slices.
      s"""WITH toks AS (SELECT doc_id, ${TF.sql.tokens("text")} AS t
         |  FROM documents),
         |b AS (SELECT doc_id,
         |  unnest(list_zip(t[1:len(t)-1], t[2:len(t)])) AS bg
         |  FROM toks WHERE len(t) >= 2),
         |bi AS (SELECT doc_id, bg[1] AS w1, bg[2] AS w2 FROM b),
         |c2 AS (SELECT w1, w2, count(*) AS c2 FROM bi GROUP BY 1, 2),
         |c1 AS (SELECT w1, count(*) AS c1 FROM bi GROUP BY 1)
         |SELECT bi.doc_id, count(*) AS n_bigrams,
         |  CAST(sum(c2.c2) AS BIGINT) AS sum_c2,
         |  CAST(sum(c1.c1) AS BIGINT) AS sum_c1,
         |  CAST(sum(c2.c2) AS DOUBLE) / CAST(sum(c1.c1) AS DOUBLE)
         |    AS lm_score
         |FROM bi JOIN c2 ON bi.w1 = c2.w1 AND bi.w2 = c2.w2
         |        JOIN c1 ON bi.w1 = c1.w1
         |GROUP BY 1""".stripMargin),

    // Temperature-flattened mixture: budgets DERIVED from corpus
    // supply (∝ √supply, integer-exact) instead of hand-declared —
    // small domains upweighted relative to their raw share. At the
    // sf0.01 gate scale the declared total pushes src8's derived
    // budget past its supply (the whole domain is kept) while larger
    // domains contribute an md5-order prefix — both consumption
    // branches under one gate (MixtureSpec pins both on a controlled
    // frame as well).
    QuerySpec("q79_temperature_mixture")((s, dir) => {
      val docs = documents(s, dir)
        .withColumn("n_tokens", TF.tokenCount(col("text")))
      graft.ops.Mixture.tokenBudgetFrom(docs, "doc_id", "source", "n_tokens",
        graft.ops.Mixture.temperatureBudgets(docs, "source", "n_tokens",
          totalBudget = temperatureTotalBudget))
    })(
      // Same integer math as temperatureBudgets: w = floor(sqrt(supply))
      // (sqrt is correctly rounded IEEE — identical bits), budgets via
      // integral division, then q71's naive window cumsum as the
      // selection oracle.
      s"""WITH t AS (SELECT doc_id, source,
         |  ${TF.sql.tokenCount("text")} AS n_tokens,
         |  md5(CAST(doc_id AS VARCHAR)) AS u FROM documents),
         |s AS (SELECT source, CAST(sum(n_tokens) AS BIGINT) AS supply
         |  FROM t GROUP BY source),
         |w AS (SELECT source,
         |  CAST(floor(sqrt(CAST(supply AS DOUBLE))) AS BIGINT) AS w
         |  FROM s WHERE supply > 0),
         |b AS (SELECT source,
         |  CAST(($temperatureTotalBudget * w) //
         |    (SELECT CAST(sum(w) AS BIGINT) FROM w) AS BIGINT) AS budget
         |  FROM w),
         |c AS (SELECT *, CAST(sum(n_tokens) OVER
         |  (PARTITION BY source ORDER BY u, doc_id) AS BIGINT)
         |  AS cum_tokens FROM t)
         |SELECT c.doc_id, c.source, c.n_tokens, c.cum_tokens
         |FROM c JOIN b USING (source)
         |WHERE cum_tokens - n_tokens < budget""".stripMargin),
  )
}
