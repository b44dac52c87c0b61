package graft
package queries

import org.apache.spark.sql.functions._
import graft.ops.Exact
import graft.text.{TextFunctions => TF}

/** Statistics and evaluation queries: quantiles, trends, profiles,
  * bootstrap, balance, calibration and agreement metrics — the
  * statistical [[graft.ops]] operators and [[graft.functions]]
  * kernels. */
object StatsQueries {
  import Tables._
  import Shared.Fnv64Sql

  /** q184's pair-join oracle SQL — shared verbatim by q187's
    * join-free scalable twin (the q38/q52 oracle-sharing pattern). */
  private lazy val kendallOracleSql: String =
    s"""WITH toks AS (SELECT doc_id, unnest(${TF.sql.tokens("text")})
         |    AS tok FROM documents WHERE text IS NOT NULL),
         |w AS (SELECT doc_id,
         |  ((${Fnv64Sql.tokHash} % 1048576) * 2654435761 // 65536) % 65536
         |    - 32768 AS w FROM toks),
         |s AS (SELECT doc_id, sum(w) AS score FROM w GROUP BY 1),
         |sc AS (SELECT d.source, d.doc_id,
         |  CAST(d.n_chars AS BIGINT) AS x,
         |  CAST(COALESCE(s.score, 0) AS BIGINT) AS y
         |  FROM documents d LEFT JOIN s ON s.doc_id = d.doc_id
         |  WHERE d.text IS NOT NULL),
         |p AS (SELECT a.source,
         |  (a.x - b.x) * (a.y - b.y) AS sgn,
         |  (a.x = b.x) AS ex, (a.y = b.y) AS ey
         |  FROM sc a JOIN sc b
         |  ON a.source = b.source AND a.doc_id < b.doc_id),
         |m AS (SELECT source,
         |  CAST(count(*) AS BIGINT) AS n_pairs,
         |  CAST(sum(CASE WHEN sgn > 0 THEN 1 ELSE 0 END) AS BIGINT)
         |    AS nc,
         |  CAST(sum(CASE WHEN sgn < 0 THEN 1 ELSE 0 END) AS BIGINT)
         |    AS nd,
         |  CAST(sum(CASE WHEN ex AND NOT ey THEN 1 ELSE 0 END)
         |    AS BIGINT) AS tie_x,
         |  CAST(sum(CASE WHEN ey AND NOT ex THEN 1 ELSE 0 END)
         |    AS BIGINT) AS tie_y
         |  FROM p GROUP BY 1)
         |SELECT source, n_pairs, nc, nd, tie_x, tie_y,
         |  CASE WHEN nc + nd + tie_x = 0 OR nc + nd + tie_y = 0 THEN 0
         |    ELSE CAST(round(CAST(nc - nd AS DOUBLE)
         |      / (sqrt(CAST(nc + nd + tie_x AS DOUBLE))
         |        * sqrt(CAST(nc + nd + tie_y AS DOUBLE)))
         |      * 16384.0) AS BIGINT) END AS tau_b_code
         |FROM m""".stripMargin

  val specs: Seq[QuerySpec] = Seq(
    // Grouped mean-pooled embeddings (class prototypes / label
    // centroids): one custom vector aggregate over a fixed-point
    // integral image (functions.VectorSumFixed) — order-independent
    // long sums, map-side combined, one shuffle of group-count
    // buffers. The DuckDB oracle recomputes the identical
    // floor(x·1e9) image, exact in both engines. Output boundary:
    // the fixed-point sums stringify (driver sorts rows in pandas,
    // which can't hash ndarray cells — see q39; and long→string is
    // format-stable across engines where double→string is not). The
    // double-mean form (aggs.vec_mean_fixed) is what lloydRounds
    // consumes; VectorAggSpec pins its partition-invariance.
    QuerySpec("q53_label_centroids")((s, dir) => {
      val st = graft.functions.aggs.vec_sum_fixed(
        graft.sim.Vectors.asDouble(col("embedding")), scale = 9)
      embeddings(s, dir)
        .groupBy(col("label"))
        .agg(count(lit(1)).as("n_vecs"), st.as("st"))
        .select(col("label"), col("n_vecs"),
          array_join(transform(col("st.sums"), _.cast("string")), ",")
            .as("centroid_fixed"))
    })(
      // Same fixed-point image (floor(x*1e9) longs) — exact integer
      // sums in both engines; joined to a string at the output
      // boundary (see the q53 builder note).
      """WITH e AS (SELECT label, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        |flat AS (
        |  SELECT label, unnest(generate_series(1, len(v))) AS pos, v FROM e),
        |sums AS (
        |  SELECT label, pos,
        |    sum(CAST(floor(v[pos] * 1000000000.0) AS BIGINT)) AS sm
        |  FROM flat GROUP BY label, pos),
        |n AS (SELECT label, count(*) AS n_vecs FROM e GROUP BY label)
        |SELECT n.label, n.n_vecs,
        |  (SELECT string_agg(CAST(sm AS VARCHAR), ',' ORDER BY pos)
        |   FROM sums s WHERE s.label = n.label) AS centroid_fixed
        |FROM n""".stripMargin),

    // Bounded grouped top-k (functions.TopKOrdered): 3 biggest orders
    // per priority class. The aggregate's k-bounded heap prunes
    // map-side, so the exchange carries partitions×groups×k rows and
    // NO group ever sorts through one reducer — the scale-safe form of
    // the row_number window at low group cardinality (5 groups here).
    // Ties cut deterministically by the (price, orderkey) struct
    // ordering; the oracle is the window form.
    QuerySpec("q57_grouped_topk")((s, dir) => {
      orders(s, dir)
        .groupBy(col("o_orderpriority"))
        .agg(graft.functions.aggs.top_k(
          struct(col("o_totalprice"), col("o_orderkey")), 3).as("top"))
        .select(col("o_orderpriority"),
          posexplode(col("top")).as(Seq("rnk", "t")))
        .select(col("o_orderpriority"),
          (col("rnk") + 1).cast("int").as("rank"),
          col("t.o_orderkey").as("o_orderkey"),
          col("t.o_totalprice").as("o_totalprice"))
    })(
      // Window-form ground truth: struct ordering = (price, orderkey)
      // lexicographic descending.
      """SELECT o_orderpriority, CAST(rnk AS INTEGER) AS rank,
        |  o_orderkey, o_totalprice
        |FROM (
        |  SELECT o_orderpriority, o_orderkey, o_totalprice,
        |    row_number() OVER (PARTITION BY o_orderpriority
        |      ORDER BY o_totalprice DESC, o_orderkey DESC) AS rnk
        |  FROM orders)
        |WHERE rnk <= 3""".stripMargin),

    // Length-balanced sampling weights (ops.Balance): NTILE(10) over
    // token count, inverse-frequency fixed-point weight per stratum —
    // the anti-length-skew reweighting in front of weighted sampling.
    QuerySpec("q129_length_balance")((s, dir) =>
      graft.ops.Balance.lengthDecileWeights(
        documents(s, dir), "doc_id", "text"))(
      // NTILE + integer inverse-frequency weight, same fixed point.
      s"""WITH t AS (SELECT doc_id,
         |  ${graft.text.TextFunctions.sql.tokenCount("text")} AS n_tokens
         |  FROM documents),
         |d AS (SELECT doc_id, n_tokens,
         |  CAST(ntile(10) OVER (ORDER BY n_tokens, doc_id) AS INTEGER)
         |    AS decile,
         |  count(*) OVER () AS n FROM t)
         |SELECT doc_id, n_tokens, decile,
         |  count(*) OVER (PARTITION BY decile) AS bucket_n,
         |  CAST((n * 10000) // (10 * count(*) OVER (PARTITION BY decile))
         |    AS BIGINT) AS weight_fp
         |FROM d""".stripMargin),

    // Token-weighted median length (ops.Quantiles.weightedLowerMedian):
    // per source, the doc length the median TOKEN lives in — the
    // mass-weighted statistic packing reads where the row median
    // misleads (one 100k-token doc outweighs a thousand stubs).
    // Exact integer crossing rule over the two-phase prefix sums.
    QuerySpec("q163_weighted_median")((s, dir) => {
      val d = documents(s, dir).select(col("doc_id"), col("source"),
        col("n_chars"),
        size(graft.functions.exprs.ws_tokens(col("text")))
          .cast("long").as("n_tokens"))
      graft.ops.Quantiles.weightedLowerMedian(d, "source", "n_chars",
        "n_tokens", "doc_id")
    })(
      // Window cumulative weights + the same integer crossing rule.
      s"""WITH t AS (SELECT doc_id, source, n_chars,
         |  CAST(${TF.sql.tokenCount("text")} AS BIGINT) AS w
         |  FROM documents),
         |c AS (SELECT *,
         |  sum(w) OVER (PARTITION BY source ORDER BY n_chars, doc_id
         |    ROWS UNBOUNDED PRECEDING) AS cum,
         |  sum(w) OVER (PARTITION BY source) AS tw FROM t)
         |SELECT source, n_chars AS w_median,
         |  CAST(tw AS BIGINT) AS total_weight
         |FROM c
         |WHERE cum >= (tw + 1) // 2 AND cum - w < (tw + 1) // 2""".stripMargin),

    // Freeze digest (ops.Profiler.tableDigest): one order-independent
    // (n_rows, xor_digest, sum_digest) row over the documents table —
    // the reproducibility audit a frozen training set ships with; any
    // row change moves it, any partitioning/layout does not.
    QuerySpec("q164_freeze_digest")((s, dir) =>
      graft.ops.Profiler.tableDigest(documents(s, dir),
        Seq("doc_id", "text", "lang", "source", "n_chars")))(
      // The same canonical row string (chr(1) joins, chr(2) nulls),
      // md5 prefix as a hex-literal BIGINT, xor + mod-p sum.
      """WITH c AS (SELECT CAST('0x' || substring(md5(
        |    concat_ws(chr(1),
        |      coalesce(CAST(doc_id AS VARCHAR), chr(2)),
        |      coalesce(text, chr(2)),
        |      coalesce(lang, chr(2)),
        |      coalesce(source, chr(2)),
        |      coalesce(CAST(n_chars AS VARCHAR), chr(2)))), 1, 15)
        |    AS BIGINT) AS code
        |  FROM documents)
        |SELECT count(*) AS n_rows,
        |  CAST(bit_xor(code) AS BIGINT) AS xor_digest,
        |  CAST(sum(code % 2147483647) AS BIGINT) AS sum_digest
        |FROM c""".stripMargin),

    // Length-quality correlation (ops.Robust.pearsonFixed): per
    // source, Pearson r of n_chars vs the classifier score in fixed
    // point — exact long moments in one aggregate, a fixed IEEE op
    // sequence, code 0 for zero-variance sides. The metric-
    // relationship report behind "is the quality gate just a length
    // gate on this source?".
    QuerySpec("q162_length_quality_corr")((s, dir) => {
      val scored = documents(s, dir).where(col("text").isNotNull)
        .select(col("source"), col("n_chars").as("x"),
          graft.functions.exprs.classifier_score(
            graft.text.TextFunctions.tokens(col("text"))).as("y"))
      graft.ops.Robust.pearsonFixed(scored, "source", "x", "y")
    })(
      // The q93 score CTE + five exact moments + the literal
      // correlation op sequence.
      s"""WITH toks AS (SELECT doc_id, unnest(${TF.sql.tokens("text")}) AS tok
         |  FROM documents WHERE text IS NOT NULL),
         |w AS (SELECT doc_id,
         |  ((${Fnv64Sql.tokHash} % 1048576) * 2654435761 // 65536) % 65536
         |    - 32768 AS w FROM toks),
         |s AS (SELECT doc_id, sum(w) AS score FROM w GROUP BY 1),
         |sc AS (SELECT d.source, CAST(d.n_chars AS BIGINT) AS x,
         |  CAST(COALESCE(s.score, 0) AS BIGINT) AS y
         |  FROM documents d LEFT JOIN s ON s.doc_id = d.doc_id
         |  WHERE d.text IS NOT NULL),
         |m AS (SELECT source, count(*) AS n,
         |  CAST(sum(x) AS BIGINT) AS sx, CAST(sum(y) AS BIGINT) AS sy,
         |  CAST(sum(x*y) AS BIGINT) AS sxy,
         |  CAST(sum(x*x) AS BIGINT) AS sxx,
         |  CAST(sum(y*y) AS BIGINT) AS syy
         |  FROM sc GROUP BY 1)
         |SELECT source, n,
         |  CASE WHEN n*sxx - sx*sx = 0 OR n*syy - sy*sy = 0 THEN 0
         |    ELSE CAST(round(CAST(n*sxy - sx*sy AS DOUBLE)
         |      / (sqrt(CAST(n*sxx - sx*sx AS DOUBLE))
         |        * sqrt(CAST(n*syy - sy*sy AS DOUBLE)))
         |      * 16384.0) AS BIGINT) END AS corr_code
         |FROM m""".stripMargin),

    // Daily-volume trend per event type (ops.Trend.dailyTrend): OLS
    // slope/intercept as exact BIGINT fractions — the growing-or-
    // dying monitor behind ingest mix decisions, with no IEEE
    // aggregation anywhere (regr_slope's double sums are partition-
    // order dependent at 1000 executors; these moments are not).
    QuerySpec("q169_trend_ols")((s, dir) =>
      graft.ops.Trend.dailyTrend(events(s, dir), "event_type", "ts",
        anchor = "2024-01-01"))(
      // Exact integer OLS moments; every sum cast down from DuckDB's
      // HUGEINT before the moment algebra so both engines combine
      // BIGINTs.
      """WITH daily AS (SELECT event_type,
        |  CAST(datediff('day', DATE '2024-01-01', CAST(ts AS DATE))
        |    AS BIGINT) AS x,
        |  CAST(count(*) AS BIGINT) AS y FROM events GROUP BY 1, 2),
        |m AS (SELECT event_type, CAST(count(*) AS BIGINT) AS n,
        |  CAST(sum(x) AS BIGINT) AS sx, CAST(sum(y) AS BIGINT) AS sy,
        |  CAST(sum(x*y) AS BIGINT) AS sxy,
        |  CAST(sum(x*x) AS BIGINT) AS sxx FROM daily GROUP BY 1)
        |SELECT event_type, n AS n_days, sy AS sum_y,
        |  n*sxy - sx*sy AS slope_num,
        |  sy*sxx - sx*sxy AS intercept_num,
        |  n*sxx - sx*sx AS den
        |FROM m""".stripMargin),

    // Daily-seasonality detector (ops.Trend.autocorrFixed): lag-24
    // autocorrelation of hourly event volume per type — zero-filled
    // over each type's whole bin span (gaps ARE signal), then q162's
    // integer-moment Pearson with one guarded IEEE division. The
    // periodicity check that validates q135's trailing-baseline burst
    // alarm.
    QuerySpec("q193_autocorr")((s, dir) =>
      graft.ops.Trend.autocorrFixed(events(s, dir), "ts", "event_type",
        binSeconds = 3600L, lag = 24))(
      // q135's hourly bin + zero-filled span densify (range is
      // end-exclusive, matching Spark's inclusive sequence(lo,hi)) +
      // the lag-24 self-join + q162's exact-moment Pearson.
      """WITH b AS (SELECT event_type,
        |  epoch_us(ts) // 3600000000 AS bin, CAST(count(*) AS BIGINT) AS n
        |  FROM events GROUP BY 1, 2),
        |sp AS (SELECT event_type, min(bin) AS lo, max(bin) AS hi
        |  FROM b GROUP BY 1),
        |g AS (SELECT event_type,
        |  CAST(unnest(range(lo, hi + 1)) AS BIGINT) AS bin FROM sp),
        |dense AS (SELECT g.event_type, g.bin, COALESCE(b.n, 0) AS n
        |  FROM g LEFT JOIN b ON b.event_type = g.event_type
        |    AND b.bin = g.bin),
        |p AS (SELECT d.event_type, d.n AS x, l.n AS y
        |  FROM dense d JOIN dense l ON l.event_type = d.event_type
        |    AND l.bin = d.bin + 24),
        |m AS (SELECT event_type, CAST(count(*) AS BIGINT) AS n,
        |  CAST(sum(x) AS BIGINT) AS sx, CAST(sum(y) AS BIGINT) AS sy,
        |  CAST(sum(x*y) AS BIGINT) AS sxy,
        |  CAST(sum(x*x) AS BIGINT) AS sxx,
        |  CAST(sum(y*y) AS BIGINT) AS syy
        |  FROM p GROUP BY 1)
        |SELECT event_type, n,
        |  CASE WHEN n*sxx - sx*sx = 0 OR n*syy - sy*sy = 0 THEN 0
        |    ELSE CAST(round(CAST(n*sxy - sx*sy AS DOUBLE)
        |      / (sqrt(CAST(n*sxx - sx*sx AS DOUBLE))
        |        * sqrt(CAST(n*syy - sy*sy AS DOUBLE)))
        |      * 16384.0) AS BIGINT) END AS corr_code
        |FROM m""".stripMargin),

    // CUSUM changepoint localization (ops.Trend.cusumChangepoint):
    // WHERE q169/q193 say a feed changed, this says WHEN — the split
    // maximizing |S_t·B − t·S_B| over the zero-filled day span (Page
    // 1954, integer form; ties to the earliest day), with exact
    // fixed-point before/after daily means for the human reading.
    QuerySpec("q199_changepoint")((s, dir) =>
      graft.ops.Trend.cusumChangepoint(events(s, dir), "event_type",
        "ts", anchor = "2024-01-01"))(
      // q169's daily CTE + the zero-filled span + the integer CUSUM
      // argmax (dev DESC, t ASC) and the same fixed-point means.
      """WITH daily AS (SELECT event_type AS k,
        |  CAST(datediff('day', DATE '2024-01-01', CAST(ts AS DATE))
        |    AS BIGINT) AS day,
        |  CAST(count(*) AS BIGINT) AS y FROM events GROUP BY 1, 2),
        |sp AS (SELECT k, min(day) AS lo, max(day) AS hi
        |  FROM daily GROUP BY 1),
        |g AS (SELECT k, lo, CAST(unnest(range(lo, hi + 1)) AS BIGINT)
        |    AS day FROM sp),
        |dense AS (SELECT g.k, g.lo, g.day, COALESCE(d.y, 0) AS y
        |  FROM g LEFT JOIN daily d ON d.k = g.k AND d.day = g.day),
        |st AS (SELECT k, lo, day - lo + 1 AS t, SUM(y) OVER w AS st,
        |  COUNT(*) OVER (PARTITION BY k) AS b,
        |  SUM(y) OVER (PARTITION BY k) AS sb
        |  FROM dense
        |  WINDOW w AS (PARTITION BY k ORDER BY day ROWS UNBOUNDED PRECEDING)),
        |best AS (SELECT * FROM (SELECT *,
        |    abs(st*b - t*sb) AS dev,
        |    row_number() OVER (PARTITION BY k
        |      ORDER BY abs(st*b - t*sb) DESC, t ASC) AS rn
        |  FROM st) WHERE rn = 1)
        |SELECT k AS event_type, CAST(b AS BIGINT) AS n_bins,
        |  CAST(lo + t - 1 AS BIGINT) AS split_bin,
        |  CAST(dev AS BIGINT) AS dev_num,
        |  CAST(st * 1000000 // t AS BIGINT) AS mean_before_fp,
        |  CAST(CASE WHEN b > t THEN (sb - st) * 1000000 // (b - t) END
        |    AS BIGINT) AS mean_after_fp
        |FROM best""".stripMargin),

    // Feed-outage report (ops.Trend.coverageReport): per type over
    // its day span — active/silent day counts and the LONGEST
    // consecutive silent run via gaps-and-islands (one 14-day outage
    // is an incident; fourteen scattered quiet days are a thin feed).
    QuerySpec("q204_coverage")((s, dir) =>
      graft.ops.Trend.coverageReport(events(s, dir), "event_type",
        "ts", anchor = "2024-01-01"))(
      // q199's daily + densify CTEs, zero-run islands via day − rn.
      """WITH daily AS (SELECT event_type AS k,
        |  CAST(datediff('day', DATE '2024-01-01', CAST(ts AS DATE))
        |    AS BIGINT) AS day,
        |  CAST(count(*) AS BIGINT) AS y FROM events GROUP BY 1, 2),
        |sp AS (SELECT k, min(day) AS lo, max(day) AS hi
        |  FROM daily GROUP BY 1),
        |g AS (SELECT k, CAST(unnest(range(lo, hi + 1)) AS BIGINT) AS day
        |  FROM sp),
        |dense AS (SELECT g.k, g.day, COALESCE(d.y, 0) AS y
        |  FROM g LEFT JOIN daily d ON d.k = g.k AND d.day = g.day),
        |zr AS (SELECT k, max(len) AS longest_gap FROM (
        |  SELECT k, grp, count(*) AS len FROM (
        |    SELECT k, day, day - row_number() OVER (
        |      PARTITION BY k ORDER BY day) AS grp
        |    FROM dense WHERE y = 0) GROUP BY 1, 2) GROUP BY 1)
        |SELECT d.k AS event_type, CAST(count(*) AS BIGINT) AS span_days,
        |  CAST(sum(CASE WHEN y > 0 THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_active,
        |  CAST(sum(CASE WHEN y = 0 THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_missing,
        |  CAST(COALESCE(max(zr.longest_gap), 0) AS BIGINT) AS longest_gap
        |FROM dense d LEFT JOIN zr ON zr.k = d.k
        |GROUP BY 1""".stripMargin),

    // Corpus concentration (ops.Balance.giniConcentration): the Gini
    // of per-source token mass — the one-number inequality audit
    // behind mixture decisions (q137 caps the symptom; this measures
    // it). Exact integer rank formula, 0 = uniform shares.
    QuerySpec("q200_gini_concentration")((s, dir) =>
      graft.ops.Balance.giniConcentration(
        documents(s, dir).where(col("text").isNotNull),
        "source", TF.tokenCount(col("text")).cast("long")))(
      // Same rank formula: groups sorted (measure ASC, name ASC), the
      // weighted sum and both divisor factors exact.
      s"""WITH g AS (SELECT source AS grp,
         |  CAST(sum(${TF.sql.tokenCount("text")}) AS BIGINT) AS x
         |  FROM documents WHERE text IS NOT NULL GROUP BY 1),
         |r AS (SELECT grp, x,
         |  CAST(row_number() OVER (ORDER BY x ASC, grp ASC) AS BIGINT) AS i,
         |  CAST(COUNT(*) OVER () AS BIGINT) AS n FROM g)
         |SELECT CAST(max(n) AS BIGINT) AS n_groups,
         |  CAST(sum(x) AS BIGINT) AS total,
         |  CAST(CASE WHEN sum(x) > 0
         |    THEN sum((2*i - n - 1) * x) * 1000000 // (max(n) * sum(x))
         |  END AS BIGINT) AS gini_fp
         |FROM r""".stripMargin),

    // Character-diversity quality gate (functions.exprs
    // .char_entropy_proxy / char_distinct_cp): whole-bit entropy
    // proxy Σ count·floor(log2 count) plus distinct code points, one
    // codegen'd kernel call per row inside the scan projection — the
    // boilerplate/padding detector. The oracle rebuilds both numbers
    // from a one-row-per-character explode.
    QuerySpec("q170_entropy_gate")((s, dir) =>
      documents(s, dir).where(col("text").isNotNull).select(
        col("doc_id"),
        length(col("text")).as("n_cp"),
        graft.functions.exprs.char_distinct_cp(col("text"))
          .as("distinct_cp"),
        graft.functions.exprs.char_entropy_proxy(col("text"))
          .as("entropy_proxy"),
        (graft.functions.exprs.char_distinct_cp(col("text")) < lit(12))
          .as("low_diversity")))(
      // One row per CHARACTER, histogram per doc, then the whole-bit
      // proxy: floor(log2 n) = length(bin(n)) - 1 — the same integer
      // the kernel's numberOfLeadingZeros form computes.
      """WITH ch AS (SELECT doc_id, unnest(string_split(text, '')) AS c
        |  FROM documents WHERE text IS NOT NULL),
        |h AS (SELECT doc_id, c, CAST(count(*) AS BIGINT) AS n
        |  FROM ch GROUP BY 1, 2),
        |p AS (SELECT doc_id,
        |  CAST(sum(n * (length(bin(n)) - 1)) AS BIGINT) AS proxy,
        |  CAST(count(*) AS INTEGER) AS dcp FROM h GROUP BY 1)
        |SELECT d.doc_id, CAST(length(d.text) AS INTEGER) AS n_cp,
        |  CAST(coalesce(p.dcp, 0) AS INTEGER) AS distinct_cp,
        |  CAST(coalesce(p.proxy, 0) AS BIGINT) AS entropy_proxy,
        |  (coalesce(p.dcp, 0) < 12) AS low_diversity
        |FROM documents d LEFT JOIN p ON p.doc_id = d.doc_id
        |WHERE d.text IS NOT NULL""".stripMargin),

    // Deterministic Poisson bootstrap (ops.Bootstrap.replicateMeans):
    // 32 seeded-md5 replicates of mean doc length per source, every
    // draw and every mean an exact integer the oracle replays — the
    // sampling distribution behind "did the filter MOVE the mean, or
    // is that noise?".
    QuerySpec("q174_bootstrap_means")((s, dir) =>
      graft.ops.Bootstrap.replicateMeans(documents(s, dir), "source",
        "doc_id", "n_chars", reps = 32, salt = "boot42"))(
      // The seeded-md5 uniform (q87/q164 discipline) through the SAME
      // pinned Poisson thresholds (Bootstrap.weightCaseSql), the same
      // exact moments, the same div.
      s"""WITH reps AS (SELECT CAST(unnest(generate_series(0, 31))
         |    AS INTEGER) AS b),
         |u AS (SELECT d.source, r.b, d.n_chars,
         |  CAST('0x' || substring(md5('boot42:' || CAST(r.b AS VARCHAR)
         |    || ':' || CAST(d.doc_id AS VARCHAR)), 1, 7) AS BIGINT) AS u
         |  FROM documents d CROSS JOIN reps r),
         |w AS (SELECT source, b, n_chars,
         |  ${graft.ops.Bootstrap.weightCaseSql("u")} AS w FROM u),
         |m AS (SELECT source, b, CAST(sum(w) AS BIGINT) AS n_eff,
         |  CAST(sum(w * n_chars) AS BIGINT) AS sum_wx
         |  FROM w GROUP BY 1, 2)
         |SELECT source, b, n_eff, sum_wx,
         |  CASE WHEN n_eff = 0 THEN NULL
         |    ELSE CAST((1000000 * sum_wx) // n_eff AS BIGINT) END
         |    AS mean_code
         |FROM m""".stripMargin),

    // Theil-Sen robust trend (ops.Trend.theilSen): the median of all
    // pairwise daily slopes per type — the outage/backfill-immune
    // twin of q169's OLS; exact-integer milli-slopes, deterministic
    // lower median, pair mass bounded by observed DAYS squared.
    QuerySpec("q178_theil_sen")((s, dir) =>
      graft.ops.Trend.theilSen(events(s, dir), "event_type", "ts",
        anchor = "2024-01-01"))(
      // The pairwise-slope join replayed; integer division truncates
      // toward zero in BOTH engines (verified on negatives), and the
      // lower median is the same (slope, dx, dy)-ranked crossing.
      """WITH daily AS (SELECT event_type,
        |  CAST(datediff('day', DATE '2024-01-01', CAST(ts AS DATE))
        |    AS BIGINT) AS x,
        |  CAST(count(*) AS BIGINT) AS y FROM events GROUP BY 1, 2),
        |p AS (SELECT a.event_type,
        |  (1000 * (b.y - a.y)) // (b.x - a.x) AS slope_milli,
        |  b.x - a.x AS dx, b.y - a.y AS dy
        |  FROM daily a JOIN daily b
        |  ON a.event_type = b.event_type AND a.x < b.x),
        |r AS (SELECT event_type, slope_milli,
        |  row_number() OVER (PARTITION BY event_type
        |    ORDER BY slope_milli, dx, dy) AS rn,
        |  count(*) OVER (PARTITION BY event_type) AS n_pairs FROM p)
        |SELECT event_type, CAST(n_pairs AS BIGINT) AS n_pairs,
        |  CAST(slope_milli AS BIGINT) AS slope_milli_med
        |FROM r WHERE rn = (n_pairs + 1) // 2""".stripMargin),

    // Kendall tau-b per source (ops.Eval.kendallBySegment): does the
    // classifier score ORDER documents the way length does? — the
    // assumption-free rank twin of q162's Pearson; five exact pair
    // classes from one id-ordered self-join, then q162's fixed IEEE
    // op-sequence into a 2^14 code.
    QuerySpec("q184_kendall")((s, dir) => {
      val scored = documents(s, dir).where(col("text").isNotNull)
        .select(col("source"), col("doc_id"),
          col("n_chars").as("x"),
          graft.functions.exprs.classifier_score(
            graft.text.TextFunctions.tokens(col("text"))).as("y"))
      graft.ops.Eval.kendallBySegment(scored, "source", "x", "y",
        "doc_id")
    })(
      // The q93 score CTE + the id-ordered pair join + the same five
      // counters and the same fixed op sequence into round(.*2^14).
      kendallOracleSql),

    // The CORPUS-SCALE Kendall twin (ops.Eval.kendallBySegmentScalable):
    // identical output to q184 from a segmented O(n log n) inversion
    // count — merge-sort rank rounds over segmentedRowNumber plus a
    // per-bucket Fenwick pass — with NO self-join in the plan (pinned
    // by KendallScalableSpec). Carries q184's own oracle, the q38/q52
    // pattern.
    QuerySpec("q187_kendall_scalable")((s, dir) => {
      val scored = documents(s, dir).where(col("text").isNotNull)
        .select(col("source"), col("doc_id"),
          col("n_chars").as("x"),
          graft.functions.exprs.classifier_score(
            graft.text.TextFunctions.tokens(col("text"))).as("y"))
      graft.ops.Eval.kendallBySegmentScalable(scored, "source", "x",
        "y", "doc_id")
    })(
      // q187 computes the SAME statistic join-free (merge-sort rank
      // rounds + per-bucket Fenwick); the oracle is q184's pair SQL
      // verbatim — the q38/q52 "scale twin carries the window form's
      // oracle" pattern.
      kendallOracleSql),

    // Quantile normalization (ops.Quantiles.quantileNormalize): every
    // source's length profile mapped onto the pooled distribution at
    // the same relative rank — exact integer positions, the
    // distribution-alignment step before cross-source comparison.
    QuerySpec("q185_quantile_norm")((s, dir) =>
      graft.ops.Quantiles.quantileNormalize(documents(s, dir),
        "source", "n_chars", "doc_id"))(
      // Both rankings as plain windows, the same exact position map.
      """WITH b AS (SELECT source, doc_id, n_chars FROM documents),
        |w AS (SELECT source, doc_id, n_chars,
        |  row_number() OVER (PARTITION BY source
        |    ORDER BY n_chars, doc_id) AS r,
        |  count(*) OVER (PARTITION BY source) AS n_seg FROM b),
        |p AS (SELECT n_chars AS norm_value,
        |  row_number() OVER (ORDER BY n_chars, doc_id) AS pos FROM b),
        |n AS (SELECT CAST(count(*) AS BIGINT) AS nt FROM b)
        |SELECT w.source, w.doc_id, w.n_chars,
        |  CAST((w.r * CAST(n.nt AS HUGEINT)) // w.n_seg AS BIGINT)
        |    AS pos,
        |  p.norm_value
        |FROM w CROSS JOIN n
        |JOIN p ON p.pos =
        |  CAST((w.r * CAST(n.nt AS HUGEINT)) // w.n_seg AS BIGINT)"""
        .stripMargin),

    // Exact AUC per source (ops.Eval.aucBySegment): the Mann-Whitney
    // rank-sum of the q93 classifier score predicting the length
    // label, ties counted 1/2 via doubled midranks — every step an
    // exact integer; the "is this score worth thresholding" report.
    QuerySpec("q180_auc")((s, dir) => {
      val scored = documents(s, dir).where(col("text").isNotNull)
        .select(col("source"),
          graft.functions.exprs.classifier_score(
            graft.text.TextFunctions.tokens(col("text"))).as("score"),
          (col("n_chars") >= 300).cast("int").as("y"))
      graft.ops.Eval.aucBySegment(scored, "source", "score", "y")
    })(
      // The q93/q162 score CTE + doubled-midrank windows + the exact
      // rank-sum; every HUGEINT sum cast down before the algebra.
      s"""WITH toks AS (SELECT doc_id, unnest(${TF.sql.tokens("text")})
         |    AS tok FROM documents WHERE text IS NOT NULL),
         |w AS (SELECT doc_id,
         |  ((${Fnv64Sql.tokHash} % 1048576) * 2654435761 // 65536) % 65536
         |    - 32768 AS w FROM toks),
         |s AS (SELECT doc_id, sum(w) AS score FROM w GROUP BY 1),
         |sc AS (SELECT d.source,
         |  CAST(COALESCE(s.score, 0) AS BIGINT) AS score,
         |  CASE WHEN d.n_chars >= 300 THEN 1 ELSE 0 END AS y
         |  FROM documents d LEFT JOIN s ON s.doc_id = d.doc_id
         |  WHERE d.text IS NOT NULL),
         |r AS (SELECT source, score, y,
         |  2 * rank() OVER (PARTITION BY source ORDER BY score)
         |    + count(*) OVER (PARTITION BY source, score) - 1 AS r2
         |  FROM sc),
         |m AS (SELECT source,
         |  CAST(sum(y) AS BIGINT) AS n_pos,
         |  CAST(count(*) AS BIGINT) - CAST(sum(y) AS BIGINT) AS n_neg,
         |  CAST(sum(CASE WHEN y = 1 THEN r2 ELSE 0 END) AS BIGINT)
         |    - CAST(sum(y) AS BIGINT) * (CAST(sum(y) AS BIGINT) + 1)
         |    AS u2
         |  FROM r GROUP BY 1)
         |SELECT source, n_pos, n_neg, u2,
         |  CASE WHEN n_pos = 0 OR n_neg = 0 THEN NULL
         |    ELSE CAST((1000000 * u2) // (2 * n_pos * n_neg) AS BIGINT)
         |  END AS auc_code
         |FROM m""".stripMargin),

    // Confusion cells + fixed-point precision/recall/F1 at the
    // pinned threshold (ops.Eval.confusionAt) — q180's companion:
    // once the AUC says the score ranks well, this is the operating
    // point report.
    QuerySpec("q181_confusion")((s, dir) => {
      val scored = documents(s, dir).where(col("text").isNotNull)
        .select(col("source"),
          graft.functions.exprs.classifier_score(
            graft.text.TextFunctions.tokens(col("text"))).as("score"),
          (col("n_chars") >= 300).cast("int").as("y"))
      graft.ops.Eval.confusionAt(scored, "source", "score", "y",
        threshold = 0L)
    })(
      // Same score CTE, conditional cell counts, the same guarded divs.
      s"""WITH toks AS (SELECT doc_id, unnest(${TF.sql.tokens("text")})
         |    AS tok FROM documents WHERE text IS NOT NULL),
         |w AS (SELECT doc_id,
         |  ((${Fnv64Sql.tokHash} % 1048576) * 2654435761 // 65536) % 65536
         |    - 32768 AS w FROM toks),
         |s AS (SELECT doc_id, sum(w) AS score FROM w GROUP BY 1),
         |sc AS (SELECT d.source,
         |  CAST(COALESCE(s.score, 0) AS BIGINT) AS score,
         |  CASE WHEN d.n_chars >= 300 THEN 1 ELSE 0 END AS y
         |  FROM documents d LEFT JOIN s ON s.doc_id = d.doc_id
         |  WHERE d.text IS NOT NULL),
         |c AS (SELECT source,
         |  CAST(sum(CASE WHEN score >= 0 AND y = 1 THEN 1 ELSE 0 END)
         |    AS BIGINT) AS tp,
         |  CAST(sum(CASE WHEN score >= 0 AND y = 0 THEN 1 ELSE 0 END)
         |    AS BIGINT) AS fp,
         |  CAST(sum(CASE WHEN score < 0 AND y = 1 THEN 1 ELSE 0 END)
         |    AS BIGINT) AS fn,
         |  CAST(sum(CASE WHEN score < 0 AND y = 0 THEN 1 ELSE 0 END)
         |    AS BIGINT) AS tn
         |  FROM sc GROUP BY 1)
         |SELECT source, tp, fp, fn, tn,
         |  CASE WHEN tp + fp = 0 THEN NULL
         |    ELSE CAST((1000000 * tp) // (tp + fp) AS BIGINT) END
         |    AS precision_code,
         |  CASE WHEN tp + fn = 0 THEN NULL
         |    ELSE CAST((1000000 * tp) // (tp + fn) AS BIGINT) END
         |    AS recall_code,
         |  CASE WHEN 2 * tp + fp + fn = 0 THEN NULL
         |    ELSE CAST((2000000 * tp) // (2 * tp + fp + fn) AS BIGINT)
         |  END AS f1_code
         |FROM c""".stripMargin),

    // Leakage-safe target encoding (ops.TargetEncode.encodingTable):
    // each (source, fold) cell's smoothed OUT-of-fold target mean in
    // 1e-6 units — the categorical featurizer that cannot leak a
    // row's own label; seeded-md5 folds, frozen prior code, exact
    // long arithmetic.
    QuerySpec("q179_target_encode")((s, dir) =>
      graft.ops.TargetEncode.encodingTable(
        documents(s, dir).withColumn("quality",
          (col("n_chars") >= 300).cast("int")),
        "source", "quality", "doc_id", folds = 5, m = 20L,
        salt = "te42"))(
      // Same seeded-md5 folds, same frozen prior code, same exact
      // smoothing arithmetic.
      """WITH t AS (SELECT source, doc_id,
        |  CASE WHEN n_chars >= 300 THEN 1 ELSE 0 END AS t,
        |  CAST('0x' || substring(md5('te42:' ||
        |    CAST(doc_id AS VARCHAR)), 1, 7) AS BIGINT) % 5 AS fold
        |  FROM documents),
        |g AS (SELECT (1000000 * CAST(sum(t) AS BIGINT))
        |    // CAST(count(*) AS BIGINT) AS prior_code FROM t),
        |pf AS (SELECT source, fold, CAST(count(*) AS BIGINT) AS n_in,
        |  CAST(sum(t) AS BIGINT) AS s_in FROM t GROUP BY 1, 2),
        |pc AS (SELECT source, CAST(sum(n_in) AS BIGINT) AS n_all,
        |  CAST(sum(s_in) AS BIGINT) AS s_all FROM pf GROUP BY 1)
        |SELECT pf.source, CAST(pf.fold AS BIGINT) AS fold,
        |  (pc.n_all - pf.n_in) AS n_out,
        |  (pc.s_all - pf.s_in) AS s_out,
        |  CAST((1000000 * (pc.s_all - pf.s_in)
        |      + 20 * (SELECT prior_code FROM g))
        |    // ((pc.n_all - pf.n_in) + 20) AS BIGINT) AS code
        |FROM pf JOIN pc ON pc.source = pf.source""".stripMargin),

    // Equi-depth histogram (ops.Quantiles.equiDepthHistogram): 16
    // same-population buckets of o_totalprice with exact [lo, hi]
    // spans — the quantile boundaries a partitioner or drift monitor
    // wants, where equi-width wastes buckets on skew. Exact ranks via
    // the constant-segment two-phase form; never one global window.
    QuerySpec("q154_equidepth_histogram")((s, dir) =>
      graft.ops.Quantiles.equiDepthHistogram(orders(s, dir),
        "o_totalprice", "o_orderkey", nTiles = 16))(
      // One NTILE window — the oracle runs the global form the Spark
      // side's two-phase rank is bit-identical to.
      """WITH r AS (SELECT o_totalprice,
        |  ntile(16) OVER (ORDER BY o_totalprice, o_orderkey) AS bucket
        |  FROM orders WHERE o_totalprice IS NOT NULL)
        |SELECT CAST(bucket AS INTEGER) AS bucket, count(*) AS n,
        |  min(o_totalprice) AS lo, max(o_totalprice) AS hi
        |FROM r GROUP BY 1""".stripMargin),

    // Robust MAD outlier gate (ops.Robust.madOutliers): per source,
    // median +/- 3*MAD on the integer classifier score — the gate that
    // survives heavy tails where mean/sigma hides its own outliers.
    // Exact lower medians via the two-phase segmented rank (q136's
    // machinery); all-integer verdicts.
    QuerySpec("q151_mad_outliers")((s, dir) => {
      val scored = documents(s, dir).where(col("text").isNotNull)
        .select(col("doc_id"), col("source"),
          graft.functions.exprs.classifier_score(
            graft.text.TextFunctions.tokens(col("text"))).as("score"))
      graft.ops.Robust.madOutliers(scored, "source", "score", "doc_id")
    })(
      // The q93/q136 score CTE + window-ranked lower medians (the
      // two-phase rank is bit-identical to the window form by
      // construction) and the same integer MAD comparison.
      s"""WITH toks AS (SELECT doc_id, unnest(${TF.sql.tokens("text")}) AS tok
         |  FROM documents WHERE text IS NOT NULL),
         |w AS (SELECT doc_id,
         |  ((${Fnv64Sql.tokHash} % 1048576) * 2654435761 // 65536) % 65536
         |    - 32768 AS w FROM toks),
         |s AS (SELECT doc_id, sum(w) AS score FROM w GROUP BY 1),
         |sc AS (SELECT d.doc_id, d.source,
         |  CAST(COALESCE(s.score, 0) AS BIGINT) AS score
         |  FROM documents d LEFT JOIN s ON s.doc_id = d.doc_id
         |  WHERE d.text IS NOT NULL),
         |r1 AS (SELECT *,
         |  row_number() OVER (PARTITION BY source ORDER BY score, doc_id) AS rn,
         |  count(*) OVER (PARTITION BY source) AS n FROM sc),
         |med AS (SELECT source, score AS med FROM r1 WHERE rn = (n + 1) // 2),
         |dv AS (SELECT sc.doc_id, sc.source, sc.score, med.med,
         |  abs(sc.score - med.med) AS dev
         |  FROM sc JOIN med ON med.source = sc.source),
         |r2 AS (SELECT *,
         |  row_number() OVER (PARTITION BY source ORDER BY dev, doc_id) AS rn,
         |  count(*) OVER (PARTITION BY source) AS n FROM dv),
         |mad AS (SELECT source, dev AS mad FROM r2 WHERE rn = (n + 1) // 2)
         |SELECT dv.doc_id, dv.source, dv.score, dv.med,
         |  CAST(mad.mad AS BIGINT) AS mad,
         |  dv.dev > 3 * mad.mad AS outlier
         |FROM dv JOIN mad ON mad.source = dv.source""".stripMargin),

    // Table profile (ops.Profiler.profile): per-column volume, null
    // count, exact distinct — one aggregate, one scan (Expand plan);
    // the arrival-audit every ETL run fronts with.
    QuerySpec("q139_profile")((s, dir) =>
      graft.ops.Profiler.profile(orders(s, dir), Seq(
        "o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
        "o_orderdate", "o_orderpriority")))({
      // One SELECT per profiled column, unioned in request order.
      def row(i: Int, c: String) =
        s"""SELECT CAST($i AS INTEGER) AS ord, '$c' AS col_name,
           |  count(*) AS n,
           |  CAST(count(*) - count($c) AS BIGINT) AS n_null,
           |  CAST(count(DISTINCT $c) AS BIGINT) AS n_distinct
           |FROM orders""".stripMargin
      Seq("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
        "o_orderdate", "o_orderpriority").zipWithIndex
        .map { case (c, i) => row(i, c) }
        .mkString("\nUNION ALL\n")
    }),

    // Expectation gate (ops.Profiler.expect): declarative contract
    // clauses evaluated as conditional counts in ONE pass — the
    // quantity range is deliberately tighter than the data (1..45 vs
    // the actual 1..50) so the report carries real violations.
    QuerySpec("q140_expectations")((s, dir) => {
      import graft.ops.Profiler.Expectation
      graft.ops.Profiler.expect(lineitem(s, dir), Seq(
        Expectation.notNull("l_orderkey"),
        Expectation.between("l_quantity", 1, 45),
        Expectation.between("l_discount", 0.0, 0.1),
        Expectation.inSet("l_returnflag", Seq("A", "N", "R"))))
    })({
      // One SELECT per contract clause; rule strings match the
      // Expectation helpers' generated names byte-for-byte.
      def row(i: Int, name: String, viol: String) =
        s"""SELECT CAST($i AS INTEGER) AS ord, '$name' AS rule,
           |  count(*) AS n,
           |  CAST(sum(CASE WHEN $viol THEN 1 ELSE 0 END) AS BIGINT)
           |    AS n_violations,
           |  sum(CASE WHEN $viol THEN 1 ELSE 0 END) = 0 AS passed
           |FROM lineitem""".stripMargin
      Seq(
        row(0, "l_orderkey is not null", "l_orderkey IS NULL"),
        row(1, "l_quantity in [1.0,45.0]",
          "NOT COALESCE(l_quantity IS NOT NULL AND l_quantity >= 1.0 AND l_quantity <= 45.0, FALSE)"),
        row(2, "l_discount in [0.0,0.1]",
          "NOT COALESCE(l_discount IS NOT NULL AND l_discount >= 0.0 AND l_discount <= 0.1, FALSE)"),
        row(3, "l_returnflag in {A,N,R}",
          "NOT COALESCE(l_returnflag IN ('A','N','R'), FALSE)")
      ).mkString("\nUNION ALL\n")
    }),

    // Benford first-digit audit (ops.Profiler.benford) of the
    // extended-price cents image — the fabricated-feed screen: a
    // uniform generator or a truncating bug flattens the digit
    // histogram long before row checks fire. Digit from the BIGINT's
    // decimal string (identical in both engines; no float log10
    // boundary), expected table in per-million units summing to
    // exactly 1e6.
    QuerySpec("q198_benford")((s, dir) =>
      graft.ops.Profiler.benford(lineitem(s, dir),
        graft.ops.Exact.cents(col("l_extendedprice"))))(
      // First digit from the cents image's decimal string; the same
      // per-million expected table (sums to exactly 1e6) inlined as a
      // list literal.
      """WITH c AS (SELECT CAST(round(l_extendedprice*100) AS BIGINT) AS v
        |  FROM lineitem),
        |d AS (SELECT CAST(substr(CAST(v AS VARCHAR), 1, 1) AS INTEGER)
        |    AS digit FROM c WHERE v > 0),
        |cnt AS (SELECT digit, CAST(count(*) AS BIGINT) AS n
        |  FROM d GROUP BY 1),
        |t AS (SELECT CAST(COALESCE(sum(n), 0) AS BIGINT) AS total FROM cnt),
        |alld AS (SELECT CAST(unnest(range(1, 10)) AS INTEGER) AS digit)
        |SELECT a.digit, CAST(COALESCE(c.n, 0) AS BIGINT) AS n,
        |  CAST(([301030, 176091, 124939, 96910, 79181, 66947, 57992,
        |         51153, 45757])[a.digit] AS BIGINT) AS expected_fp,
        |  CAST(CASE WHEN t.total > 0
        |    THEN COALESCE(c.n, 0) * 1000000 // t.total END AS BIGINT)
        |    AS observed_fp,
        |  CAST(abs(CASE WHEN t.total > 0
        |      THEN COALESCE(c.n, 0) * 1000000 // t.total END
        |    - ([301030, 176091, 124939, 96910, 79181, 66947, 57992,
        |        51153, 45757])[a.digit]) AS BIGINT) AS dev_fp
        |FROM alld a LEFT JOIN cnt c ON c.digit = a.digit, t""".stripMargin),

    // Isotonic (PAV) calibration of the q93 classifier score against
    // the lang='en' label, per source (aggs.IsotonicFit): the
    // monotone score→probability curve in 10^-6 fixed point, eval
    // slice doc_id%3=0. The Spark side runs the O(n log n) PAV
    // stack; the oracle derives the SAME values by the independent
    // minimax identity fit(i)=max_{j<=i} min_{k>=i} mean(y[j..k]) —
    // floor commutes with max/min, so quantized candidate means give
    // the quantized fit exactly (two distinct algorithms, one
    // answer — the q184/q187 discipline).
    // Per-source pass-rate significance (ops.Robust.rateSignificance):
    // two-proportion z vs the rest of the corpus over the q93
    // classifier gate (score >= 0) — the significance layer a
    // curation monitor needs before acting on a rate dip; counts
    // exact, z one pinned IEEE op sequence, degenerate cases NULL.
    QuerySpec("q203_rate_significance")((s, dir) => {
      val d = documents(s, dir).where(col("text").isNotNull)
      val scored = d.select(col("source"),
        graft.functions.exprs.classifier_score(
          TF.tokens(col("text"))).as("score"))
      graft.ops.Robust.rateSignificance(scored, "source",
        col("score") >= 0)
    })(
      // The q93 score CTE + exact per-source counts + the same pinned
      // z op sequence.
      s"""WITH toks AS (SELECT doc_id, unnest(${TF.sql.tokens("text")}) AS tok
         |  FROM documents WHERE text IS NOT NULL),
         |w AS (SELECT doc_id,
         |  ((${Fnv64Sql.tokHash} % 1048576) * 2654435761 // 65536) % 65536
         |    - 32768 AS w FROM toks),
         |s AS (SELECT doc_id, sum(w) AS score FROM w GROUP BY 1),
         |sc AS (SELECT d.source,
         |  CAST(COALESCE(s.score, 0) AS BIGINT) AS score
         |  FROM documents d LEFT JOIN s ON s.doc_id = d.doc_id
         |  WHERE d.text IS NOT NULL),
         |per AS (SELECT source, CAST(count(*) AS BIGINT) AS n,
         |  CAST(sum(CASE WHEN score >= 0 THEN 1 ELSE 0 END) AS BIGINT)
         |    AS k FROM sc GROUP BY 1),
         |t AS (SELECT CAST(sum(n) AS BIGINT) AS tn,
         |  CAST(sum(k) AS BIGINT) AS tk FROM per)
         |SELECT source, n, k,
         |  CAST(k * 1000000 // n AS BIGINT) AS rate_fp,
         |  CAST(CASE WHEN t.tn > n AND t.tk > 0 AND t.tk < t.tn THEN
         |    round(((CAST(k AS DOUBLE) / CAST(n AS DOUBLE))
         |        - (CAST(t.tk - k AS DOUBLE) / CAST(t.tn - n AS DOUBLE)))
         |      / sqrt((CAST(t.tk AS DOUBLE) / CAST(t.tn AS DOUBLE))
         |        * (1.0 - CAST(t.tk AS DOUBLE) / CAST(t.tn AS DOUBLE))
         |        * (1.0 / CAST(n AS DOUBLE)
         |          + 1.0 / CAST(t.tn - n AS DOUBLE)))
         |      * 10000.0) END AS BIGINT) AS z_code
         |FROM per, t""".stripMargin),

    // Reliability diagram (ops.Eval.reliabilityBins): the decile
    // calibration audit q192's isotonic fit summarizes — per source,
    // ten equal-count score bands with observed positive rate and
    // score span; ntile over the (score, id) total order is exact in
    // both engines.
    QuerySpec("q202_reliability")((s, dir) => {
      val d = documents(s, dir).where(col("text").isNotNull)
      val scored = d.select(col("source"), col("doc_id"),
        graft.functions.exprs.classifier_score(
          TF.tokens(col("text"))).as("score"),
        when(col("lang") === "en", 1L).otherwise(0L).as("y"))
      graft.ops.Eval.reliabilityBins(scored, "source", "score",
        "doc_id", "y", bins = 10)
    })(
      // The q93 score CTE + ntile over the same (score, doc_id) order
      // and the exact per-band counts.
      s"""WITH toks AS (SELECT doc_id, unnest(${TF.sql.tokens("text")}) AS tok
         |  FROM documents WHERE text IS NOT NULL),
         |w AS (SELECT doc_id,
         |  ((${Fnv64Sql.tokHash} % 1048576) * 2654435761 // 65536) % 65536
         |    - 32768 AS w FROM toks),
         |s AS (SELECT doc_id, sum(w) AS score FROM w GROUP BY 1),
         |sc AS (SELECT d.doc_id, d.source,
         |  CASE WHEN d.lang = 'en' THEN 1 ELSE 0 END AS y,
         |  CAST(COALESCE(s.score, 0) AS BIGINT) AS score
         |  FROM documents d LEFT JOIN s ON s.doc_id = d.doc_id
         |  WHERE d.text IS NOT NULL),
         |b AS (SELECT source, y, score,
         |  ntile(10) OVER (PARTITION BY source
         |    ORDER BY score ASC, doc_id ASC) AS band
         |  FROM sc)
         |SELECT source, CAST(band AS INTEGER) AS band,
         |  CAST(count(*) AS BIGINT) AS n,
         |  CAST(sum(y) AS BIGINT) AS n_pos,
         |  CAST(min(score) AS BIGINT) AS score_lo,
         |  CAST(max(score) AS BIGINT) AS score_hi,
         |  CAST(sum(y) * 1000000 // count(*) AS BIGINT) AS rate_fp
         |FROM b GROUP BY 1, 2""".stripMargin),

    QuerySpec("q192_isotonic_calibration")((s, dir) => {
      val d = documents(s, dir)
        .where(col("text").isNotNull && col("doc_id") % 3 === 0)
      val scored = d.select(col("source"), col("doc_id"),
        graft.functions.exprs.classifier_score(
          TF.tokens(col("text"))).as("score"),
        when(col("lang") === "en", 1L).otherwise(0L).as("y"))
      scored.groupBy(col("source"))
        .agg(graft.functions.aggs.isotonic_fit(
          struct(col("score"), col("doc_id"), col("y"))).as("fits"))
        .select(col("source"), explode(col("fits")).as("f"))
        .select(col("source"), col("f.id").as("doc_id"), col("f.fit_fp"))
    })(
      // The q93 score CTE on the eval slice + the minimax identity for
      // the isotonic fit: fit(i) = max_{j<=i} min_{k>=i} of the
      // floor-quantized mean of y[j..k] — an O(n²) windowed replay that
      // must equal the Spark PAV stack's pool means exactly (floor
      // commutes with max/min; // and Math.floorDiv agree at all
      // signs).
      s"""WITH toks AS (SELECT doc_id, unnest(${TF.sql.tokens("text")}) AS tok
         |  FROM documents WHERE text IS NOT NULL AND doc_id % 3 = 0),
         |w AS (SELECT doc_id,
         |  ((${Fnv64Sql.tokHash} % 1048576) * 2654435761 // 65536) % 65536
         |    - 32768 AS w FROM toks),
         |s AS (SELECT doc_id, sum(w) AS score FROM w GROUP BY 1),
         |sc AS (SELECT d.doc_id, d.source,
         |  CASE WHEN d.lang = 'en' THEN 1 ELSE 0 END AS y,
         |  CAST(COALESCE(s.score, 0) AS BIGINT) AS score
         |  FROM documents d LEFT JOIN s ON s.doc_id = d.doc_id
         |  WHERE d.text IS NOT NULL AND d.doc_id % 3 = 0),
         |seq AS (SELECT source, doc_id, y, score,
         |  row_number() OVER (PARTITION BY source
         |    ORDER BY score, doc_id) AS rn,
         |  SUM(y) OVER (PARTITION BY source ORDER BY score, doc_id
         |    ROWS UNBOUNDED PRECEDING) AS ps
         |  FROM sc),
         |jk AS (SELECT j.source AS src, j.rn AS j, k.rn AS k,
         |  ((k.ps - j.ps + j.y) * 1000000) // (k.rn - j.rn + 1) AS afp
         |  FROM seq j JOIN seq k
         |    ON k.source = j.source AND k.rn >= j.rn),
         |sm AS (SELECT src, j, k, min(afp) OVER (
         |    PARTITION BY src, j ORDER BY k DESC
         |    ROWS UNBOUNDED PRECEDING) AS m
         |  FROM jk),
         |fit AS (SELECT src, k AS rn, max(m) AS fit_fp
         |  FROM sm WHERE j <= k GROUP BY 1, 2)
         |SELECT q.source, q.doc_id, CAST(f.fit_fp AS BIGINT) AS fit_fp
         |FROM seq q JOIN fit f ON f.src = q.source AND f.rn = q.rn""".stripMargin),

    // Per-source budget cap (ops.Balance.sourceBudget): each source
    // keeps its best 15 docs by (classifier score DESC, id ASC) —
    // the C4/RefinedWeb anti-domination quota; bounded-heap per
    // source, total frame with verdicts.
    QuerySpec("q137_source_budget")((s, dir) => {
      val d = documents(s, dir).where(col("text").isNotNull)
      val scored = d.select(col("doc_id"), col("source"),
        graft.functions.exprs.classifier_score(
          TF.tokens(col("text"))).as("score"))
      graft.ops.Balance.sourceBudget(scored, "doc_id", "source",
        "score", k = 15)
    })(
      // The q93 score CTE + the naive per-source rank gate.
      s"""WITH toks AS (SELECT doc_id, unnest(${TF.sql.tokens("text")}) AS tok
         |  FROM documents WHERE text IS NOT NULL),
         |w AS (SELECT doc_id,
         |  ((${Fnv64Sql.tokHash} % 1048576) * 2654435761 // 65536) % 65536
         |    - 32768 AS w FROM toks),
         |s AS (SELECT doc_id, sum(w) AS score FROM w GROUP BY 1),
         |sc AS (SELECT d.doc_id, d.source,
         |  CAST(COALESCE(s.score, 0) AS BIGINT) AS score
         |  FROM documents d LEFT JOIN s ON s.doc_id = d.doc_id
         |  WHERE d.text IS NOT NULL),
         |r AS (SELECT *, row_number() OVER (PARTITION BY source
         |    ORDER BY score DESC, doc_id) AS rn FROM sc)
         |SELECT doc_id, source, score, rn <= 15 AS kept FROM r""".stripMargin),

    // The scale-safe twin of q38: EXACT same output (it shares q38's
    // oracle SQL) but ranks computed two-phase — sketch-placed range
    // buckets, tiny cumulative-offset frame, per-(segment,bucket)
    // window — so parallelism is segments x buckets instead of one
    // reducer per low-cardinality segment (ops.Quantiles).
    QuerySpec("q52_scalable_windows")((s, dir) =>
      graft.ops.Quantiles.distribution(
        customer(s, dir).select(
          col("c_custkey"), col("c_mktsegment"), col("c_acctbal")),
        segCol = "c_mktsegment", valCol = "c_acctbal",
        tieCol = "c_custkey")
        .select(col("c_custkey"), col("c_mktsegment"), col("c_acctbal"),
          col("balance_quartile"), col("balance_pct_rank")))(
      // q52 is rank-identical to q38 by construction — same oracle.
      """SELECT c_custkey, c_mktsegment, c_acctbal,
        | CAST(ntile(4) OVER w AS INTEGER) AS balance_quartile,
        | percent_rank() OVER w AS balance_pct_rank
        |FROM customer
        |WINDOW w AS (PARTITION BY c_mktsegment
        |             ORDER BY c_acctbal ASC, c_custkey ASC)""".stripMargin),
  )
}
