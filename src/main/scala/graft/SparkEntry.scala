package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.dedup.Dedup
import graft.etl.{Cleanse, DateDim, Reports, Star}
import graft.mm.Multimodal
import graft.ops.Exact
import graft.sim.{Ann, Jl}
import graft.text.{TextFunctions => TF}

/** Driver contract — one entry per implemented operator class from
  * SURVEY.md §2, each with a DuckDB oracle twin in [[oracleSql]].
  *
  * Float-output discipline: every double column is bit-deterministic
  * (exact integral sums / identical op sequences on both engines) —
  * see [[graft.ops.Exact]] — so the driver's hash compare is stable.
  */
object SparkEntry {
  import Tables._

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    queries("q09_monthly_report")(spark, "/root/testdata/sf0.001")

  // ---------------------------------------------------------------- helpers

  private def centsSum(c: Column) = Exact.sumMoney(c)

  /** q104/q105's pinned JL sign matrix (64-d → 32-d): one driver-side
    * splitmix64 sweep, inlined as literals into the Spark plan and
    * the DuckDB oracle alike. Half the input dimensionality — the
    * measured ranking-fidelity ceiling on this NEAR-ISOTROPIC
    * synthetic corpus (median pairwise cosine ≈ 0, docs/RECALL.md
    * notes) already binds at 32; deeper cuts are for corpora with low
    * intrinsic dimension. */
  private[graft] val jlSigns: Array[Array[Int]] =
    Jl.signMatrix(seed = 0x6a1L, kDims = 32, dim = 64)

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

  /** q110/q111's shared oracle: positional tokens → per-(qid, doc,
    * start) vote counts → starts with exactly m votes are verbatim
    * matches. */
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

  /** The similarity-pair graph as a build-once [[Artifacts]] table:
    * the pipeline computes it ONCE, and every consumer — component
    * resolution, dedup gates, audits — reads the tiny (id_a, id_b,
    * jaccard) table instead of re-running the join. */
  private[graft] def pairGraphTable(s: SparkSession, dir: String,
                                    threshold: Double,
                                    force: Boolean = false): (graft.catalog.ParquetCatalog, String) =
    // round, not truncate: (0.29*100).toInt == 28 in binary64, which
    // would collide with threshold 0.28's graph and silently serve
    // pairs built at the wrong cutoff
    Artifacts.table(s"dup_pairs_${Artifacts.key(dir)}_t${math.round(threshold * 1000)}",
        force) { (cat, table) =>
      graft.dedup.Curation.materializePairs(documents(s, dir), "doc_id", "text",
        cat, table, ngramN = 5, threshold = threshold)
    }

  /** q89's standing assignment: components of the corpus-only
    * (doc_id % 10 != 0) char-5-gram pair graph at 0.4 — the state a
    * daily-ingest pipeline carries between batches, built once like
    * the pair graph itself. */
  private[graft] def baseComponentsTable(s: SparkSession, dir: String,
                                         force: Boolean = false): (graft.catalog.ParquetCatalog, String) =
    Artifacts.table(s"base_components_${Artifacts.key(dir)}_t400", force) { (cat, table) =>
      val corpus = documents(s, dir).filter(col("doc_id") % 10 =!= 0)
        .select(col("doc_id"), Dedup.charNgrams(col("text"), 5).as("set"))
      val pairs = Dedup.exactSimilarityPairs(corpus, "doc_id", threshold = 0.4)
      cat.overwrite(
        Dedup.connectedComponents(pairs.select("id_a", "id_b")), table)
    }

  /** q90's persisted prefix index over the corpus side of the q64
    * split. */
  private[graft] def prefixIndexTable(s: SparkSession, dir: String,
                                      force: Boolean = false): (graft.catalog.ParquetCatalog, String) =
    Artifacts.table(s"prefix_index_${Artifacts.key(dir)}_t400", force) { (cat, table) =>
      Dedup.buildPrefixIndex(
        documents(s, dir).filter(col("doc_id") % 10 =!= 0)
          .select(col("doc_id"), Dedup.charNgrams(col("text"), 5).as("set")),
        "doc_id", threshold = 0.4, cat, table)
    }

  /** The q68 pivot's explicit value set — ONE list consumed by both
    * the Spark query and its oracle builder, so the two column sets
    * cannot drift. */
  private val orderPriorities =
    Seq("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")

  /** Lineitem with the silver-style derived columns used downstream. */
  private def cleansedLineitem(s: SparkSession, dir: String): DataFrame =
    Cleanse.derive(
      lineitem(s, dir),
      "disc_price" -> (col("l_extendedprice") * (lit(1) - col("l_discount"))),
      "charge" -> (col("l_extendedprice") * (lit(1) - col("l_discount"))
        * (lit(1) + col("l_tax"))))

  // ---------------------------------------------------------------- queries

  def queries: Map[String, (SparkSession, String) => DataFrame] =
    coreQueries ++ extensionQueries

  private def coreQueries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // A3/A4-class: grouped aggregation with deterministic sums & means
    // (reference report shape, platinum.py:88-112).
    "q01_pricing_summary" -> ((s, dir) => {
      cleansedLineitem(s, dir)
        .filter(col("l_shipdate") <= lit("1998-09-02").cast("timestamp"))
        .groupBy(col("l_returnflag"), col("l_linestatus"))
        .agg(
          Exact.sumIntegral(col("l_quantity")).as("sum_qty"),
          centsSum(col("l_extendedprice")).as("sum_base_price"),
          centsSum(col("disc_price")).as("sum_disc_price"),
          centsSum(col("charge")).as("sum_charge"),
          Exact.avgIntegral(col("l_quantity")).as("avg_qty"),
          Exact.avgMoney(col("l_extendedprice")).as("avg_price"),
          (sum(round(col("l_discount") * 10000)) / lit(10000.0) / count(lit(1)))
            .as("avg_disc"),
          count(lit(1)).as("count_order"))
    }),

    // P1/P5/P8/P9-class: filter + projection + arithmetic + cast
    // (reference silver cleanse, silver.py:67-85).
    "q02_filter_project" -> ((s, dir) => {
      lineitem(s, dir)
        .filter(col("l_discount") >= 0.05 && col("l_quantity") < 25)
        .select(
          col("l_orderkey"), col("l_linenumber"),
          (round(col("l_extendedprice") * col("l_discount") * 100) / lit(100.0))
            .as("disc_amount"),
          col("l_quantity").cast("int").as("qty_int"))
    }),

    // J1/J6-class: multi-way equi-join with broadcast dims + grouped agg
    // (reference report joins, platinum.py:132-142).
    "q03_region_revenue" -> ((s, dir) => {
      val o = orders(s, dir); val c = customer(s, dir)
      val n = nation(s, dir).withColumnRenamed("n_nationkey", "c_nationkey")
      val r = region(s, dir).withColumnRenamed("r_regionkey", "n_regionkey")
      val joined = o.join(c, o("o_custkey") === c("c_custkey"), "inner")
      Star.joinDim(Star.joinDim(joined, n, Seq("c_nationkey")), r, Seq("n_regionkey"))
        .groupBy(col("r_name"))
        .agg(count(lit(1)).as("n_orders"),
          centsSum(col("o_totalprice")).as("revenue"))
    }),

    // F9-class: generated calendar dimension (replaces the reference's
    // MySQL stored procedure, create_datamart.sql:43-91).
    "q04_date_dim" -> ((s, _) => DateDim.build(s, "1995-01-01", "1996-12-31")),

    // J3-class: new-key detection as LEFT ANTI (reference right-join +
    // isNull, gold.py:93-94).
    "q05_anti_join_new_keys" -> ((s, dir) => {
      val c = customer(s, dir)
      val o = orders(s, dir).filter(col("o_orderstatus") === "F")
      c.join(o, c("c_custkey") === o("o_custkey"), "left_anti")
        .select(col("c_custkey"), col("c_name"), col("c_mktsegment"))
    }),

    // A1/P6-class: scalar watermark + incremental filter (reference
    // batch-incremental load, gold.py:56-65,278).
    "q06_watermark_incremental" -> ((s, dir) => {
      val o = orders(s, dir)
      val wm = Star.watermark(o.filter(col("o_orderstatus") === "F"), "o_orderdate")
      Star.newerThan(o, "o_orderdate", wm)
        .groupBy(col("o_orderpriority"))
        .agg(count(lit(1)).as("n_orders"),
          centsSum(col("o_totalprice")).as("sum_total"))
    }),

    // U1-class: schema-aligned union + distinct (fixes reference defect
    // R1 — positional union, gold.py:273).
    "q07_union_dedup" -> ((s, dir) => {
      Cleanse.dedup(Cleanse.unionConformed(Seq(
        lineitem(s, dir).select(col("l_suppkey").as("suppkey")),
        supplier(s, dir).select(col("s_suppkey").as("suppkey")))))
    }),

    // O1-class: deterministic top-k (sort + limit with unique tiebreak).
    "q08_top_customers" -> ((s, dir) => {
      customer(s, dir)
        .orderBy(col("c_acctbal").desc, col("c_custkey").asc)
        .limit(10)
        .select(col("c_custkey"), col("c_name"), col("c_acctbal"))
    }),

    // E2-class: the gold fact build end-to-end — silver cleanse (dedup +
    // required keys) → join orders → two composite date-dim joins →
    // surrogate keys (gold.py:256-330, defects R1/R2 fixed).
    "q26_fact_build" -> ((s, dir) => {
      val dd = DateDim.build(s, "1995-01-01", "2001-12-31")
      // dedupByFingerprint ≡ dropDuplicates() but the shuffle keys on a
      // 16-byte row hash, not the full row width — the 100 TB form
      val li = Cleanse.derive(
        Cleanse.requireNonNull(Cleanse.dedupByFingerprint(lineitem(s, dir)),
          Seq("l_orderkey", "l_shipdate")),
        "disc_price" -> (col("l_extendedprice") * (lit(1) - col("l_discount"))))
      val o = orders(s, dir)
      Star.joinDateDim(
        Star.joinDateDim(
          li.join(o, li("l_orderkey") === o("o_orderkey"), "inner"),
          dd, "o_orderdate", "date_o_id"),
        dd, "l_shipdate", "date_s_id")
        .select(col("l_orderkey"), col("l_linenumber"), col("l_quantity"),
          col("disc_price"), col("o_orderpriority"),
          col("date_o_id"), col("date_s_id"))
    }),

    // E3-class: the platinum monthly report shape — date-dim join +
    // multi-key groupBy with avg+sum per measure + count
    // (platinum.py:69-154).
    "q09_monthly_report" -> ((s, dir) => {
      val fact = factBase(s, dir)
      Reports.report(fact,
        Seq(col("year_o"), col("month_o"), col("l_returnflag"),
          col("o_orderpriority"), col("c_mktsegment")),
        Seq(
          Reports.Measure("quantity", col("l_quantity"), Reports.Integral),
          Reports.Measure("price", col("l_extendedprice"), Reports.Money),
          Reports.Measure("disc_price", col("disc_price"), Reports.Money),
          Reports.Measure("charge", col("charge"), Reports.Money),
          Reports.Measure("totalprice", col("o_totalprice"), Reports.Money)))
    }),

    // E3-class: weekly report twin — keys swap month for ISO week +
    // day name (platinum.py:166-252).
    "q10_weekly_report" -> ((s, dir) => {
      val fact = factBase(s, dir)
        .withColumn("week_o", weekofyear(col("o_orderdate")))
        .withColumn("day_name_o", date_format(col("o_orderdate"), "EEEE"))
      Reports.report(fact,
        Seq(col("year_o"), col("week_o"), col("day_name_o"),
          col("l_returnflag"), col("c_mktsegment")),
        Seq(
          Reports.Measure("quantity", col("l_quantity"), Reports.Integral),
          Reports.Measure("price", col("l_extendedprice"), Reports.Money)))
    }),
  )

  /** Seconds-since-epoch for TIMESTAMP or TIMESTAMP_NTZ columns (NTZ
    * interpreted in the UTC session zone, matching DuckDB's naive ts). */
  private def epochSec(c: Column): Column = unix_timestamp(c.cast("timestamp"))

  /** LLM-pipeline extension operators (SURVEY.md §7.4): text analysis,
    * dedup, similarity search, multimodal, event windows/sessions. */
  private def extensionQueries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // Token counting (whitespace tokenizer, codegen'd HOFs).
    "q11_token_stats" -> ((s, dir) => {
      documents(s, dir).select(
        col("doc_id"),
        TF.tokenCount(col("text")).as("n_tokens"),
        length(col("text")).as("len_chars"))
    }),

    // BPE-ish regex token counting (subword-tokenizer upper bound).
    "q31_bpe_tokens" -> ((s, dir) => {
      documents(s, dir).select(
        col("doc_id"),
        TF.bpeTokenCount(col("text")).as("n_bpe_tokens"),
        TF.tokenCount(col("text")).as("n_ws_tokens"))
    }),

    // Quality scoring: length/punctuation/stopword signals.
    "q12_quality_score" -> ((s, dir) => {
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
    }),

    // Language-ID heuristic vs the labeled lang column (confusion counts).
    "q13_lang_id" -> ((s, dir) => {
      documents(s, dir)
        .select(col("lang"), TF.langId(col("text")).as("pred_lang"))
        .groupBy(col("lang"), col("pred_lang"))
        .agg(count(lit(1)).as("n_docs"))
    }),

    // Fingerprint dedup groups (normalized-content MD5).
    "q14_fingerprint_groups" -> ((s, dir) =>
      Dedup.exactGroups(documents(s, dir), "doc_id", "text")),

    // Exact dedup survivors (left-semi against min-id-per-group).
    "q15_exact_dedup" -> ((s, dir) =>
      Dedup.exactDedup(documents(s, dir), "doc_id", "text")
        .select(col("doc_id"), col("lang"), col("source"), col("n_chars"))),

    // Streaming-shaped batch: hourly tumbling windows over events
    // (streaming twin: graft.streaming.EventStreams.hourlyAgg).
    "q16_event_windows" -> ((s, dir) => {
      events(s, dir)
        .groupBy(window(col("ts"), "1 hour"), col("event_type"))
        .agg(count(lit(1)).as("n_events"),
          (sum(round(col("value") * 100)) / 100.0).as("sum_value"))
        .select(col("window.start").as("window_start"), col("event_type"),
          col("n_events"), col("sum_value"))
    }),

    // Gap-based sessionization via window functions (streaming twin:
    // EventStreams.sessionize with flatMapGroupsWithState).
    "q17_sessionize" -> ((s, dir) => {
      val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
      val gap = epochSec(col("ts")) - epochSec(lag(col("ts"), 1).over(w))
      val tagged = events(s, dir)
        .withColumn("new_sess", when(gap.isNull || gap > 1800, 1).otherwise(0))
        .withColumn("session_id", sum(col("new_sess"))
          .over(w.rowsBetween(Window.unboundedPreceding, 0)))
      tagged.groupBy(col("user_id"), col("session_id"))
        .agg(count(lit(1)).as("n_events"),
          min(col("ts")).as("session_start"), max(col("ts")).as("session_end"))
        .withColumn("duration_sec",
          epochSec(col("session_end")) - epochSec(col("session_start")))
    }),

    // Multimodal metadata through the typed mapPartitions path
    // (payload bytes + SHA-256 checksum; codec itself is stubbed).
    "q18_multimodal_meta" -> ((s, dir) => {
      Multimodal.extractFeatures(Multimodal.asMedia(documents(s, dir)))
        .toDF()
        .select(col("doc_id"), col("media_type"), col("n_bytes"), col("checksum"))
    }),

    // Brute-force cosine top-k (exact ANN baseline).
    "q19_ann_topk" -> ((s, dir) => {
      val e = embeddings(s, dir)
      Ann.bruteForceTopK(e, e.filter(col("vec_id") < 8), k = 5)
    }),

    // MinHash-LSH near-dup pairs, oracle-gated against the EXACT
    // word-shingle all-pairs join: at the gate scales with pinned
    // seeds the banding recalls every true pair (RECALL.md 1.000/1.000
    // both scales) and the emitted jaccard is the exact verified set
    // Jaccard, so LSH output ≡ ground truth and the oracle holds —
    // AND the gate now fails loudly if a banding change ever loses a
    // pair (stricter than RecallSpec's 0.8 floor). The est_jaccard
    // minhash diagnostic stays on the operator, but not in the
    // declared surface (hash seeds aren't SQL-reproducible).
    "q20_minhash_pairs" -> ((s, dir) =>
      Dedup.minhashPairs(documents(s, dir), "doc_id", "text",
          shingleK = 3, nHashes = 16, bands = 4, minJaccard = 0.3)
        .select(col("id_a"), col("id_b"), col("jaccard"))),
    // SimHash near-dups, FULLY oracle-gated since r7: the chunk
    // pigeonhole is EXACT for Hamming <= maxHamming whenever no chunk
    // bucket floods (none can at gate scale), and the per-token hash
    // is deliberately SQL-replayable (FNV-1a-64 over codepoints +
    // murmur3 fmix64 — see SimHash64), so the DuckDB side recomputes
    // every 64-bit signature bit-for-bit and brute-forces the pair set.
    "q21_simhash_pairs" -> ((s, dir) =>
      Dedup.simhashPairs(documents(s, dir), "doc_id", "text", maxHamming = 3)),
    // (not rows-only since r5: the stub codec is a pure function of the
    // payload bytes and the corpus text is ASCII, so the q51-style
    // hashCode-replay oracle applies to the whole decode path)
    "q22_multimodal_decode" -> ((s, dir) =>
      Multimodal.extractFeatures(Multimodal.asMedia(documents(s, dir))).toDF()),
    // Banded hyperplane-LSH near-dups, FULLY oracle-gated since r8:
    // the seeded planes are a java.util.Random LCG the oracle replays
    // exactly in DuckDB integer arithmetic (see lshPlanesCte), so the
    // whole chain — 12×3 sign bits, band collisions, exact-cosine
    // verify — hash-compares. Recall vs brute force stays a separate
    // QUALITY bound (RECALL.md + RecallSpec): the oracle proves the
    // LSH computed what it declares, the recall floor proves what it
    // declares is a good approximation.
    "q23_embedding_neardup" -> ((s, dir) =>
      Dedup.embeddingPairs(embeddings(s, dir), "vec_id", "embedding",
        threshold = 0.3, planesPerBand = 3, bands = 12)),
    // EXACT n-gram Jaccard self-join via rarest-first prefix filtering
    // (AllPairs/PPJoin shape) — oracle-checkable against a DuckDB
    // all-pairs join with no prefix filter, proving the filter dropped
    // nothing.
    "q24_ngram_jaccard_pairs" -> ((s, dir) =>
      Dedup.exactNgramJaccardPairs(documents(s, dir), "doc_id", "text",
        n = 5, threshold = 0.4)),
    // Multi-table multi-probe LSH top-k, FULLY oracle-gated since r8
    // (LCG plane replay + Hamming-1 probe set in SQL); recall vs brute
    // force stays the RECALL.md/RecallSpec quality bound.
    "q25_ann_lsh" -> ((s, dir) => {
      val e = embeddings(s, dir)
      Ann.lshTopK(e, e.filter(col("vec_id") < 8), k = 5,
        nPlanes = 4, nTables = 6)
    }),

    // IVF inverted-list ANN — deterministic (lowest-id centroids,
    // cosine ties by centroid id), so unlike the LSH family it gets a
    // full DuckDB oracle reproducing the list assignment + probes.
    "q42_ann_ivf" -> ((s, dir) => {
      val e = embeddings(s, dir)
      Ann.ivfTopK(e, e.filter(col("vec_id") < 8), k = 5,
        nCentroids = 16, nProbe = 4)
    }),

    // IVF with distributed Lloyd k-means coarse quantization — the
    // data-adaptive upgrade of q42: 16× finer lists at the SAME 25%
    // scan fraction (nProbe/nCentroids = 64/256 = 4/16), which is
    // where IVF recall actually comes from (measured 0.975 vs q42's
    // 0.925 at both spec scales — docs/RECALL.md; spread-seed inits
    // measured strictly worse, see kmeansCentroids scaladoc).
    // FULLY oracle-gated since r8: the Lloyd means are the FIXED-POINT
    // image (exact integer sums + pinned-order divisions), so two
    // unrolled rounds replay bit-for-bit in DuckDB (kmeansCteSql).
    "q48_ann_ivf_kmeans" -> ((s, dir) => {
      val e = embeddings(s, dir)
      Ann.ivfTopK(e, e.filter(col("vec_id") < 8), k = 5, nProbe = 64,
        centroids0 = Some(Ann.kmeansCentroids(e, k = 256, iters = 2)))
    }),

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
    "q96_pq_adc" -> ((s, dir) => {
      val (cat, prefix) = pqIndexTable(s, dir)
      graft.sim.Pq.adcTopK(
        cat.read(s, s"${prefix}_codes"),
        embeddings(s, dir).filter(col("vec_id") < 8),
        cat.read(s, s"${prefix}_codebooks"),
        m = 16, dim = 64, topK = 5)
    }),

    // Appendable PQ index: codebooks trained on the 90% seed, the
    // held-out 10% encoded against the FROZEN codebooks and appended
    // — daily upkeep is one delta-sized job, the index never
    // re-encodes; ADC stays exact w.r.t. the declared codebooks
    // (drift erodes fineness, not correctness). Oracle replays the
    // exact protocol: Lloyd restricted to the seed slice, encoding
    // and scoring over everything.
    "q98_pq_append" -> ((s, dir) => {
      val (cat, prefix) = pqAppendedIndexTable(s, dir)
      graft.sim.Pq.adcTopK(
        cat.read(s, s"${prefix}_codes"),
        embeddings(s, dir).filter(col("vec_id") < 8),
        cat.read(s, s"${prefix}_codebooks"),
        m = 16, dim = 64, topK = 5)
    }),

    // The full IVFADC composition (FAISS IVFPQ, off persisted
    // artifacts only): q77's inverted lists bound WHICH vectors are
    // scored (probe 4 of 16 lists), q96's PQ codes make scoring them
    // cheap (integer ADC shortlist-20), the exact cosine rerank
    // restores exactness at the top. Per query ≈ 25% of the corpus as
    // code lookups + 20 full-width vectors.
    "q99_ivfpq" -> ((s, dir) => {
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
    }),

    // The production PQ shape: ADC shortlist-50 + exact cosine rerank
    // (recall 0.625 → 0.975 vs the float truth, docs/RECALL.md) —
    // wide vectors touched only for the shortlist ids.
    "q97_pq_rerank" -> ((s, dir) => {
      val (cat, prefix) = pqIndexTable(s, dir)
      val e = embeddings(s, dir)
      graft.sim.Pq.adcRerankTopK(e,
        cat.read(s, s"${prefix}_codes"),
        e.filter(col("vec_id") < 8),
        cat.read(s, s"${prefix}_codebooks"),
        m = 16, dim = 64, shortlist = 50, topK = 5)
    }),

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
    "q53_label_centroids" -> ((s, dir) => {
      val st = graft.functions.aggs.vec_sum_fixed(
        graft.sim.Vectors.asDouble(col("embedding")), scale = 9)
      embeddings(s, dir)
        .groupBy(col("label"))
        .agg(count(lit(1)).as("n_vecs"), st.as("st"))
        .select(col("label"), col("n_vecs"),
          array_join(transform(col("st.sums"), _.cast("string")), ",")
            .as("centroid_fixed"))
    }),

    // SCD2 dimension history from a change log (etl.Scd.history):
    // per-user event_type state periods — no-op re-observations
    // collapse (null-safe), latest period open. One shuffle on the
    // high-cardinality key feeds both window functions (plan-pinned
    // in ScdSpec); incremental maintenance (Scd.applyChanges) never
    // reshuffles closed periods and is spec-proven equivalent to the
    // full rebuild.
    "q54_scd2_history" -> ((s, dir) =>
      graft.etl.Scd.history(
        events(s, dir), keyCols = Seq("user_id"), tsCol = "ts",
        attrCols = Seq("event_type"), tieCols = Seq("event_id"))),

    // EXACT edit-distance self-join (fuzzy entity matching) over
    // 48-char document-title prefixes: PassJoin segment-pigeonhole
    // blocking (dedup.FuzzyJoin — recall 1.0 structural, equi-join
    // candidates, id-only pair exchange, levenshtein-verified). The
    // oracle recomputes the same pairs as a brute-force all-pairs
    // join — exactness proven cross-engine, like q24 for Jaccard.
    "q55_fuzzy_join" -> ((s, dir) =>
      graft.dedup.FuzzyJoin.editDistancePairs(
        documents(s, dir).select(col("doc_id"),
          substring(col("text"), 1, 48).as("title")),
        "doc_id", "title", maxDist = 2)),

    // Incremental EXACT similarity maintenance (daily-ingest dedup):
    // pairs touching the "new batch" (doc_id % 10 = 0) vs the standing
    // corpus, WITHOUT the corpus×corpus candidate join — the probe
    // side of the prefix join holds batch prefixes only. Oracle = the
    // q24 all-pairs CTE restricted to batch-touching pairs; DedupSpec
    // proves equality with the full join at the operator level.
    "q64_incremental_pairs" -> ((s, dir) => {
      val sets = documents(s, dir)
        .select(col("doc_id"), Dedup.charNgrams(col("text"), 5).as("set"))
      Dedup.incrementalSimilarityPairs(
        sets.filter(col("doc_id") % 10 =!= 0),
        sets.filter(col("doc_id") % 10 === 0),
        "doc_id", threshold = 0.4)
    }),

    // PIVOT: order counts and exact revenue per (year × priority) —
    // the wide reshaping surface. Pivot values are declared explicitly
    // (the two-pass value-discovery form is a driver round-trip a
    // 100 TB plan should never pay); the aggregate underneath is one
    // shuffle on the group key like any other groupBy.
    "q68_pivot" -> ((s, dir) =>
      orders(s, dir)
        .groupBy(year(col("o_orderdate")).as("o_year"))
        .pivot("o_orderpriority", orderPriorities)
        .agg(count(lit(1)).as("n"),
          Exact.sumMoney(col("o_totalprice")).as("rev"))),

    // UNPIVOT (melt): the long form of the same per-year measures —
    // narrow (metric, value) rows for metric stores and chart feeds.
    // unpivot is a Generate-style row expansion, no shuffle beyond
    // the aggregate that feeds it.
    "q69_unpivot" -> ((s, dir) => {
      val wide = orders(s, dir)
        .groupBy(year(col("o_orderdate")).as("o_year"))
        .agg(count(lit(1)).cast("double").as("n_orders"),
          Exact.sumMoney(col("o_totalprice")).as("revenue"),
          Exact.avgMoney(col("o_totalprice")).as("avg_price"))
      wide.unpivot(Array(col("o_year")),
        Array(col("n_orders"), col("revenue"), col("avg_price")),
        "metric", "value")
    }),

    // Bin-blocked RANGE join (ops.RangeJoin): purchase attribution —
    // for each purchase event, every click by the same user in the
    // hour before it. The range predicate becomes an equi-join on
    // (hour bin, user_id) — shuffled hash join, no nested loop, no
    // broadcast of a whole side (plan-pinned in RangeJoinSpec) — with
    // the exact half-open predicate as a residual filter. The oracle
    // runs the naive theta join.
    "q56_range_join" -> ((s, dir) => {
      val hourUs = 3600L * 1000000L
      val ev = events(s, dir)
      // NTZ → TIMESTAMP under the pinned UTC session = the same naive
      // epoch DuckDB's epoch_us computes
      val micros = unix_micros(col("ts").cast("timestamp"))
      val clicks = ev.filter(col("event_type") === "click")
        .select(col("user_id"), col("event_id").as("click_id"), micros.as("t"))
      val purchases = ev.filter(col("event_type") === "purchase")
        .select(col("user_id"), col("event_id").as("purchase_id"), micros.as("pt"))
        .withColumn("ws", col("pt") - lit(hourUs))
      graft.ops.RangeJoin.pointInInterval(clicks, purchases,
          col("t"), col("ws"), col("pt"), binWidth = hourUs,
          equiKeys = Seq("user_id"))
        .select(col("purchase_id"), col("click_id"),
          (col("pt") - col("t")).as("gap_micros"))
    }),

    // Bounded grouped top-k (functions.TopKOrdered): 3 biggest orders
    // per priority class. The aggregate's k-bounded heap prunes
    // map-side, so the exchange carries partitions×groups×k rows and
    // NO group ever sorts through one reducer — the scale-safe form of
    // the row_number window at low group cardinality (5 groups here).
    // Ties cut deterministically by the (price, orderkey) struct
    // ordering; the oracle is the window form.
    "q57_grouped_topk" -> ((s, dir) => {
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
    }),

    // Self k-NN graph, EXACT form (Ann.exactKnnGraph): every vector's
    // k true nearest neighbors — recall 1.0 by construction, full
    // DuckDB oracle (all-pairs cosine + rank). The corpus broadcasts
    // against itself, which is the right plan precisely when exact
    // ground truth is computable at all; the LSH-bucketed twin q92 is
    // the 100 TB path (same schema/ties, recall measured in RECALL.md).
    "q65_knn_graph" -> ((s, dir) =>
      graft.sim.Ann.exactKnnGraph(embeddings(s, dir), k = 5)),

    // Self k-NN JOIN, LSH form (Ann.knnJoin): symmetric bucket
    // self-join (no broadcastable query side exists when every vector
    // is a query) + the k-bounded heap aggregate for per-vector top-k.
    // FULLY oracle-gated since r8 (LCG plane replay, 16 tables × 3
    // bits, mirror + row_number twin of the heap); graph recall ≥0.95
    // vs q65's exact form stays the RECALL.md/RecallSpec quality bound.
    "q92_knn_graph_lsh" -> ((s, dir) =>
      graft.sim.Ann.knnJoin(embeddings(s, dir), k = 5)),

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
    "q188_knn_graph_lsh_scaled" -> ((s, dir) =>
      graft.sim.Ann.knnJoinScaled(embeddings(s, dir), k = 5)),

    // Matryoshka truncation audit (Ann.matryoshkaRecall): recall@5 of
    // prefix-dim cosine top-5 (d = 8/16/32/64) against the full-width
    // graph on the corpus's own vectors (Kusupati et al. 2022's MRL
    // question: how many dims can we drop before neighbor structure
    // degrades). Integer recall in 1e-6 units; the d=64 row reads
    // exactly 1.0 by construction — a built-in self-check. Eval
    // slice vec_id%5=0, the q65 brute-force regime.
    "q197_matryoshka" -> ((s, dir) =>
      graft.sim.Ann.matryoshkaRecall(
        embeddings(s, dir).filter(col("vec_id") % 5 === 0),
        dims = Seq(8, 16, 32, 64), k = 5)),

    // SemDeDup-style semantic dedup (Dedup.semanticDedup): k-means
    // clusters bound the candidate space, within-cluster cosine pairs
    // drop the higher id. FULLY oracle-gated since r8 (kmeansCteSql
    // replay + top-8 cell heap as row_number); pair recall vs the
    // brute-force ground truth stays the RECALL.md/RecallSpec quality
    // bound.
    "q58_semantic_dedup" -> ((s, dir) =>
      graft.dedup.Dedup.semanticDedup(embeddings(s, dir),
          "vec_id", "embedding", threshold = 0.3)
        .select(col("vec_id"), col("label"))),

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
    "q93_quality_classifier" -> ((s, dir) =>
      documents(s, dir).where(col("text").isNotNull)
        .select(col("doc_id"),
          graft.functions.exprs.classifier_score(TF.tokens(col("text")))
            .as("clf_score"),
          TF.tokenCount(col("text")).as("n_tokens"))
        .withColumn("keep", (col("clf_score") > 0L).cast("int"))),

    // Gopher-style structural repetition statistics (text.Repetition):
    // duplicate line/paragraph fractions (occurrence and character
    // weighted) plus top-{2,3,4}-gram character fractions — the
    // published corpus-filter thresholds' inputs, each an explode +
    // two map-side-combinable aggregates, fractions as IEEE divisions
    // of exact Long sums (cross-engine hashable).
    "q94_repetition_stats" -> ((s, dir) =>
      graft.text.Repetition.stats(documents(s, dir), "doc_id", "text")),

    // The published Gopher repetition GATE over those stats — the
    // corpus-filter decision itself, cross-engine exact because every
    // threshold compares identically-computed doubles.
    "q100_gopher_filter" -> ((s, dir) =>
      graft.text.Repetition.gopherFilter(documents(s, dir), "doc_id", "text")),

    // Corpus unigram-LM perplexity-band filter (text.UnigramLm): the
    // CCNet keep-the-middle decision with WHOLE-BIT quantized
    // surprisal — floor-log2 via integer bit length, no libm log, so
    // per-doc sums are exact longs and the band decision hash-gates
    // cross-engine. Band picked to split this corpus around its
    // median mean-surprisal (~4.03 bits/token).
    "q101_perplexity_band" -> ((s, dir) =>
      graft.text.UnigramLm.perplexityBand(documents(s, dir), "doc_id",
        "text", lo = 4.0, hi = 4.04)),

    // Domain-level curation gate (ops.DomainGate): RefinedWeb-style
    // per-source stats — within-domain duplicate mass, mean length,
    // modal-language share — and the wholesale keep/drop decision.
    "q102_source_gate" -> ((s, dir) =>
      graft.ops.DomainGate.sourceGate(documents(s, dir), "source",
        "text", "lang", "n_chars", maxDupFrac = 0.1,
        minMeanChars = 290.0, minModalFrac = 0.40)),

    // DSIR-style importance selection (text.UnigramLm): deterministic
    // top-200 raw docs by quantized log-likelihood ratio toward the
    // English-document target domain (add-one-smoothed unigram LMs on
    // both sides, whole-bit arithmetic as q101).
    "q103_dsir_select" -> ((s, dir) => {
      val d = documents(s, dir)
      graft.text.UnigramLm.importanceRank(d,
        d.filter(col("lang") === "en"), "doc_id", "text", topN = 200)
    }),

    // JL signed-random-projection ANN (sim.Jl): 64-d floats →
    // L2-normalized 2^14 fixed-point codes → 32 small-int components
    // via a pinned-seed ±1 matrix inlined into plan AND oracle.
    // Projected squared-L2 ranking is exact-integer end to end, so
    // the approximate operator itself hash-gates; fidelity vs the
    // float cosine is the RECALL.md measurement (modest HERE by
    // design — this corpus is near-isotropic, JL's worst ranking
    // regime; see the RECALL.md note).
    "q104_jl_topk" -> ((s, dir) => {
      val e = embeddings(s, dir)
      Jl.topK(e, e.filter(col("vec_id") < 8), k = 5, jlSigns)
    }),

    // JL shortlist-100 + exact cosine rerank — the production
    // composition (q97's shape with a JL scan instead of ADC): prune
    // with k-int distances at half width, reorder the shortlist with
    // the true cosine. Both stages replayable, so the whole pipe
    // hash-gates.
    "q105_jl_rerank" -> ((s, dir) => {
      val e = embeddings(s, dir)
      Jl.rerankTopK(e, e.filter(col("vec_id") < 8), k = 5,
        shortlist = 100, jlSigns)
    }),

    // Keyword retrieval (text.Retrieval): BM25-shaped top-k with
    // WHOLE-BIT idf — tf·floor(log2(N div df)) exact-long scores, so
    // the ranking replays in DuckDB (the q101 bit-length discipline).
    // The decontamination/corpus-forensics search primitive.
    "q106_keyword_search" -> ((s, dir) =>
      graft.text.Retrieval.searchTopKInline(documents(s, dir), "doc_id",
        "text", keywordQueryFrame(s), k = 10)),

    // The same workload through the PERSISTED token-bucket-partitioned
    // inverted index — scans only the query terms' buckets (static
    // partition IN-list → file-level pruning). Shares q106's oracle:
    // persistence and pruning are proven bit-neutral, the q77/q90
    // discipline.
    "q107_keyword_indexed" -> ((s, dir) => {
      val (cat, prefix) = invertedIndexTable(s, dir)
      graft.text.Retrieval.searchTopKFromCatalog(s, cat, prefix,
        keywordQueryFrame(s), k = 10)
    }),

    // Exact phrase search (text.Retrieval.phraseSearch): verbatim
    // n-gram occurrence per (query, doc) via the votes-per-start
    // reformulation — one token join + one aggregate, no m-way
    // self-join. The "does this benchmark phrase appear" primitive.
    "q110_phrase_search" -> ((s, dir) =>
      graft.text.Retrieval.phraseSearchInline(documents(s, dir),
        "doc_id", "text", phraseQueryFrame(s))),

    // The same phrase workload through the persisted POSITIONAL index
    // (q107's bucket pruning on the positions table); shares q110's
    // oracle — persistence and pruning proven bit-neutral.
    "q111_phrase_indexed" -> ((s, dir) => {
      val (cat, prefix) = invertedIndexTable(s, dir)
      graft.text.Retrieval.phraseSearchFromCatalog(s, cat, prefix,
        phraseQueryFrame(s))
    }),

    // The decontamination GATE on the phrase primitive
    // (text.Retrieval.phraseDecontaminate): every doc scored by how
    // many benchmark phrases it carries verbatim, kept iff none —
    // funnel-total frame, zero rows included.
    "q112_phrase_decon" -> ((s, dir) =>
      graft.text.Retrieval.phraseDecontaminate(documents(s, dir),
        "doc_id", "text", phraseQueryFrame(s))),

    // Hybrid retrieval (text.Retrieval.hybridRrf): the q106 BM25 leg
    // and an exact dense cosine leg (probes = the keyword qids' own
    // embeddings, q65's scoring) fused by reciprocal ranks — rank-only
    // fusion needs no score calibration and stays hash-replayable
    // (each term one IEEE division, fixed-order two-double sum).
    "q113_hybrid_rrf" -> ((s, dir) => {
      val kw = graft.text.Retrieval.searchTopKInline(documents(s, dir),
        "doc_id", "text", keywordQueryFrame(s), k = 10)
      val dense = graft.sim.Ann.bruteForceTopK(embeddings(s, dir),
          embeddings(s, dir).filter(col("vec_id") < 6), k = 10)
        .withColumnRenamed("vec_id", "doc_id")
      graft.text.Retrieval.hybridRrf(kw, dense, k = 10)
    }),

    // Vocabulary coverage (text.Vocab.oovProfile): top-100 frequency
    // vocabulary (broadcast), per-doc OOV mass against it — the
    // tokenizer-coverage screen; corpus never shuffles for the probe.
    "q114_vocab_oov" -> ((s, dir) =>
      graft.text.Vocab.oovProfile(documents(s, dir), "doc_id", "text",
        topV = 100)),

    // Per-source lexical diversity (text.Vocab.diversityProfile):
    // unigram + bigram type-token ratios — the templated-source
    // screen per-doc stats can't see.
    "q115_diversity" -> ((s, dir) =>
      graft.text.Vocab.diversityProfile(documents(s, dir), "source",
        "text")),

    // BPE merge-candidate statistics (text.Vocab.mergePairStats):
    // top-20 adjacent token pairs by corpus count — iteration one of
    // merge learning, map-side-combined then sort-limited.
    "q116_merge_pairs" -> ((s, dir) =>
      graft.text.Vocab.mergePairStats(documents(s, dir), "text",
        topK = 20)),

    // Tokenizer APPLY (text.Vocab.encode): corpus encoded against the
    // top-100 vocabulary — rank ids 1..V, OOV -> 0, per doc in
    // position order (comma-joined fixed image, the q53 convention).
    "q119_vocab_encode" -> ((s, dir) =>
      graft.text.Vocab.encode(documents(s, dir), "doc_id", "text",
        topV = 100)),

    // Fixed-point PageRank over the materialized near-dup pair graph
    // (ops.LinkAnalysis.pageRankFixed): which docs sit at the CENTER
    // of duplication mass — integer damped power iteration, 3 rounds,
    // every op exact and SQL-replayable; shares q47's artifact.
    "q123_pagerank" -> ((s, dir) => {
      val (cat, table) = pairGraphTable(s, dir, threshold = 0.4)
      graft.ops.LinkAnalysis.pageRankFixed(cat.read(s, table))
        .withColumnRenamed("id", "doc_id")
    }),

    // Label-propagation communities (ops.LinkAnalysis
    // .labelPropagation): deterministic synchronous LPA, 3 rounds,
    // most-frequent-neighbor-label votes with (cnt DESC, label ASC)
    // ties — splits a weakly-bridged dup component into its dense
    // cores, the signal between q47's components and q147's
    // triangles; shares the same pair-graph artifact.
    "q191_label_propagation" -> ((s, dir) => {
      val (cat, table) = pairGraphTable(s, dir, threshold = 0.4)
      graft.ops.LinkAnalysis.labelPropagation(cat.read(s, table))
        .withColumnRenamed("id", "doc_id")
    }),

    // Modularity audit of the q191 partition (ops.LinkAnalysis
    // .modularity): per community, the exact integer contribution
    // q_num = 4m·e_in − deg_sum² (Q = Σ q_num / 4m², Newman & Girvan
    // 2004) — negative rows are worse-than-random groupings. No
    // division or float anywhere; envelope m ≤ 1.5e9 edges.
    "q194_modularity" -> ((s, dir) => {
      val (cat, table) = pairGraphTable(s, dir, threshold = 0.4)
      val g = cat.read(s, table)
      graft.ops.LinkAnalysis.modularity(g,
        graft.ops.LinkAnalysis.labelPropagation(g))
    }),

    // 2-core of the dup graph (ops.LinkAnalysis.kCore): docs whose
    // near-dup relations are corroborated by a CYCLE — a pendant edge
    // is one accidental 5-gram collision; a 2-core member is
    // confirmed twice over. Three peel rounds, fixed for the SQL
    // replay; surviving deg < k tells non-convergence.
    "q195_kcore" -> ((s, dir) => {
      val (cat, table) = pairGraphTable(s, dir, threshold = 0.4)
      graft.ops.LinkAnalysis.kCore(cat.read(s, table), k = 2)
        .withColumnRenamed("id", "doc_id")
    }),

    // Seed-expansion curation score (ops.LinkAnalysis
    // .personalizedPageRank): proximity to the trusted seed docs
    // (doc_id % 17 == 0) through the dup/similarity graph — the
    // TrustRank-style signal for growing a curated set from a vetted
    // one; rank 0 = unreached within 3 hops.
    "q196_seed_expansion" -> ((s, dir) => {
      val (cat, table) = pairGraphTable(s, dir, threshold = 0.4)
      val seeds = documents(s, dir).select(col("doc_id"))
        .filter(col("doc_id") % 17 === 0)
      graft.ops.LinkAnalysis.personalizedPageRank(cat.read(s, table), seeds)
        .withColumnRenamed("id", "doc_id")
    }),

    // Degree assortativity of the dup graph (ops.LinkAnalysis
    // .assortativityFixed): Pearson of endpoint degrees over
    // mirrored edges (Newman 2002) — positive = genuine dense-core
    // near-dup families, negative = a template hub fanning out to
    // degree-1 pages. q162's exact moment discipline.
    "q201_assortativity" -> ((s, dir) => {
      val (cat, table) = pairGraphTable(s, dir, threshold = 0.4)
      graft.ops.LinkAnalysis.assortativityFixed(cat.read(s, table))
    }),

    // Semantic eval-set decontamination (sim.Ann.semanticDecon): the
    // embedding-side leakage gate — every train vector's hit count
    // against the held-out probe set at cosine >= 0.35, kept = zero
    // hits. Probes (vec_id % 10 == 0) broadcast; one corpus pass;
    // total frame with verdicts (funnel accounting).
    "q124_semantic_decon" -> ((s, dir) => {
      val e = embeddings(s, dir)
      graft.sim.Ann.semanticDecon(
        e.filter(col("vec_id") % 10 =!= 0),
        e.filter(col("vec_id") % 10 === 0), threshold = 0.35)
    }),

    // Per-probe leakage report (sim.Ann.probeLeakage): the q124 gate
    // transposed — per EVAL item, its corpus near-neighbor count and
    // the clean verdict; the report that drops compromised benchmark
    // items instead of scrubbing the corpus.
    "q142_probe_leakage" -> ((s, dir) => {
      val e = embeddings(s, dir)
      graft.sim.Ann.probeLeakage(
        e.filter(col("vec_id") % 10 =!= 0),
        e.filter(col("vec_id") % 10 === 0), threshold = 0.35)
    }),

    // C4-style line-level quality filter (text.LineQuality.c4Filter):
    // per-line prose gates + doc-level gates ("lorem ipsum", '{'),
    // cleaned text rejoined in line order; one projection pass, zero
    // shuffles. This corpus is a single-line token stream with no
    // terminal punctuation, so the query runs the transcript
    // configuration (requirePunct=false, >=12 words, >=1 kept line)
    // — the verdict discriminates by the word-count rule; the full
    // published gate incl. punctuation is pinned in LineQualitySpec.
    "q125_line_filter" -> ((s, dir) =>
      graft.text.LineQuality.c4Filter(documents(s, dir), "doc_id",
        "text", minKeptLines = 1, minWords = 12, requirePunct = false)),

    // Hard-negative mining (sim.Ann.hardNegatives): per anchor vector
    // the top-5 most-similar vectors with a DIFFERENT label — the
    // contrastive-training negatives. Anchors (vec_id % 10 == 0)
    // broadcast; label inequality pre-filters BEFORE the k-bounded
    // heap, so groups never under-fill.
    "q126_hard_negatives" -> ((s, dir) => {
      val e = embeddings(s, dir)
      graft.sim.Ann.hardNegatives(e,
        e.filter(col("vec_id") % 10 === 0), k = 5)
    }),

    // Centroid-distance outlier pruning (sim.Outliers
    // .centroidOutliers): top-3 farthest vectors from their label
    // centroid, ranked by the division-free integer key
    // n*<x,x> - 2*<x,s> over fixed-point codes — exact cross-engine,
    // two corpus scans, centroids broadcast.
    "q127_centroid_outliers" -> ((s, dir) =>
      graft.sim.Outliers.centroidOutliers(embeddings(s, dir), topN = 3)),

    // Sorted-neighborhood dedup (dedup.SortedNeighborhood): window-3
    // pairs over the text-sorted corpus, Levenshtein-verified on the
    // first 128 chars at threshold 40 (the corpus is cleanly bimodal:
    // its 25 planted near-dup pairs sit at lev <= 20, background at
    // 78+). Global rank via the parallel two-phase form, never a
    // single-partition window.
    "q128_sorted_neighborhood" -> ((s, dir) =>
      graft.dedup.SortedNeighborhood.candidatePairs(
        documents(s, dir), "doc_id", "text",
        window = 3, levPrefix = 128, threshold = 40)),

    // Length-balanced sampling weights (ops.Balance): NTILE(10) over
    // token count, inverse-frequency fixed-point weight per stratum —
    // the anti-length-skew reweighting in front of weighted sampling.
    "q129_length_balance" -> ((s, dir) =>
      graft.ops.Balance.lengthDecileWeights(
        documents(s, dir), "doc_id", "text")),

    // Per-dimension whitening moments (sim.Whitening.dimMoments):
    // exact long (n, Σx, Σx²) over fixed-point codes, one corpus scan
    // through the map-combinable vector aggregate — |partitions|
    // buffers shuffle, never rows.
    "q130_dim_moments" -> ((s, dir) =>
      graft.sim.Whitening.dimMoments(embeddings(s, dir))),

    // Sorted-neighborhood duplicates only (dedup.SortedNeighborhood
    // .duplicatePairs): the q128 scan with the below-threshold filter
    // written in the NATURAL unbounded form — the plans
    // .BoundedLevenshtein optimizer rule (installed by the operator)
    // plans it as the banded levenshtein(a, b, t).
    "q132_neighborhood_dups" -> ((s, dir) =>
      graft.dedup.SortedNeighborhood.duplicatePairs(
        documents(s, dir), "doc_id", "text",
        window = 3, levPrefix = 128, threshold = 40)),

    // Unicode canonicalizer (functions.exprs.normalize_text, custom
    // codegen'd Expression): NFC + ROOT lower + whitespace collapse +
    // trim in one kernel pass — run over a deliberately messy concat
    // (mixed-case segment, tab, double spaces) so every row exercises
    // the collapse and case paths.
    "q131_normalize_text" -> ((s, dir) => {
      val src = concat(col("c_name"), lit("\t "), col("c_mktsegment"),
        lit("  "), col("c_acctbal").cast("string"))
      customer(s, dir).select(col("c_custkey"),
        graft.functions.exprs.normalize_text(src).as("text_norm"),
        (graft.functions.exprs.normalize_text(src) =!= src).as("changed"))
    }),

    // PMI-style collocation mining (text.Vocab.collocations): top-20
    // bigrams by fixed-point lift (n_pair*10^6 div n1*n2 — orders as
    // PMI for a fixed corpus), hapax-pruned before the joins.
    "q133_collocations" -> ((s, dir) =>
      graft.text.Vocab.collocations(documents(s, dir), "text",
        topK = 20, minCount = 5)),

    // Chi-square token–label feature selection (text.Vocab
    // .chiSquareTokens): the top-50 tokens most associated with the
    // lang='en' label — the feature pass behind n-gram language-ID
    // and quality-classifier vocabularies. 2×2 presence contingency
    // per token, chi2 in 10^-4 fixed point via DECIMAL(38,0)
    // integral divisions (exact envelope ~2·10^9 docs; DuckDB
    // replays in HUGEINT), hapax-pruned before arithmetic.
    "q190_chi2_tokens" -> ((s, dir) =>
      graft.text.Vocab.chiSquareTokens(documents(s, dir), "text",
        col("lang") === "en", topK = 50, minDf = 5)),

    // Source vocabulary-overlap matrix (text.Vocab
    // .vocabOverlapMatrix): Jaccard over per-source token SETS —
    // q82 catches shared documents, this catches shared LANGUAGE
    // (two crawls of one template ecosystem); low overlap buys
    // mixture breadth. Unordered pairs, one integral division.
    "q205_vocab_overlap" -> ((s, dir) =>
      graft.text.Vocab.vocabOverlapMatrix(documents(s, dir),
        "text", "source")),

    // Corpus snapshot reconciliation (ops.Snapshot.diff): two
    // deterministically-derived snapshots of the documents table
    // (old drops doc_id%7==0; new drops %5==0 and revises %11==0)
    // diffed by content fingerprint — added/removed/changed/unchanged
    // per id, digests move, bodies don't.
    "q134_snapshot_diff" -> ((s, dir) => {
      val d = documents(s, dir)
      val oldSnap = d.filter(col("doc_id") % 7 =!= 0)
      val newSnap = d.filter(col("doc_id") % 5 =!= 0)
        .withColumn("text", when(col("doc_id") % 11 === 0,
          concat(col("text"), lit(" [rev2]"))).otherwise(col("text")))
      graft.ops.Snapshot.diff(oldSnap, newSnap, "doc_id", Seq("text"))
    }),

    // Domain-grouped split (ops.Splits.leakageSafeSplit with source
    // as the group): every doc of a source lands on the SAME side —
    // the split that stops near-duplicate/domain leakage across
    // train/val/test when the leak unit is the domain, not the dup
    // cluster (q81's component form covers that one). Same operator,
    // different group frame — the seam is the point.
    "q141_group_split" -> ((s, dir) => {
      val d = documents(s, dir)
      graft.ops.Splits.leakageSafeSplit(d, "doc_id",
          d.select(col("doc_id"), col("source")), "doc_id", "source",
          splitFractions)
        .select(col("doc_id"), col("grp"), col("split"))
    }),

    // Margin-based bitext mining (sim.Bitext.mine): each en doc's best
    // de counterpart, kept only when the pair's cosine stands out
    // against BOTH sides' top-4 neighborhoods (ratio margin >= 1.10) —
    // the CCMatrix/LASER recipe; plain cosine thresholds drown in hub
    // vectors. Langs come from documents (vec_id aligns with doc_id).
    "q143_bitext_margin" -> ((s, dir) => {
      val lang = documents(s, dir).select(col("doc_id"), col("lang"))
      val byLang = embeddings(s, dir)
        .join(lang, col("vec_id") === col("doc_id"))
      def side(l: String) = byLang.filter(col("lang") === l)
        .select(col("vec_id"), col("embedding"))
      graft.sim.Bitext.mine(side("en"), side("de"), k = 4,
        marginMin = 1.10)
    }),

    // Snapshot novelty (text.CrossDoc.snapshotNovelty): per fresh-crawl
    // doc (doc_id % 7 == 0), the fraction of its distinct 5-shingles
    // absent from the standing corpus — the new-crawl accounting run
    // before paying for full dedup. Exact membership join here; the
    // petabyte path is the bloom gate fed with reference shingles.
    "q144_snapshot_novelty" -> ((s, dir) => {
      val d = documents(s, dir)
      graft.text.CrossDoc.snapshotNovelty(
        d.filter(col("doc_id") % 7 =!= 0),
        d.filter(col("doc_id") % 7 === 0), "doc_id", "text", shingleK = 5)
    }),

    // Gate agreement matrix: q109's four-gate verdict frame rolled
    // up to its 2^4 cells — the filter-stack tuning report ("which
    // gate binds; how many docs fail exactly one"). Pure rollup of
    // the shared verdict frame; the oracle shares q109's SQL.
    "q166_gate_matrix" -> ((s, dir) =>
      graft.text.FilterStack.modernGates(documents(s, dir), "doc_id",
          "text", pplLo = 3.95, pplHi = 4.15)
        .groupBy(col("rep_pass"), col("ppl_pass"), col("clf_pass"),
          col("uniq_pass"))
        .agg(count(lit(1)).as("n_docs"))),

    // Stickiness (etl.Funnels.stickiness): DAU/WAU per observed day
    // in fixed point — the daily engagement ratio; two rollingActive
    // passes joined on the day, one IEEE division of exact longs.
    "q165_stickiness" -> ((s, dir) =>
      graft.etl.Funnels.stickiness(events(s, dir))),

    // Token-weighted median length (ops.Quantiles.weightedLowerMedian):
    // per source, the doc length the median TOKEN lives in — the
    // mass-weighted statistic packing reads where the row median
    // misleads (one 100k-token doc outweighs a thousand stubs).
    // Exact integer crossing rule over the two-phase prefix sums.
    "q163_weighted_median" -> ((s, dir) => {
      val d = documents(s, dir).select(col("doc_id"), col("source"),
        col("n_chars"),
        size(graft.functions.exprs.ws_tokens(col("text")))
          .cast("long").as("n_tokens"))
      graft.ops.Quantiles.weightedLowerMedian(d, "source", "n_chars",
        "n_tokens", "doc_id")
    }),

    // Freeze digest (ops.Profiler.tableDigest): one order-independent
    // (n_rows, xor_digest, sum_digest) row over the documents table —
    // the reproducibility audit a frozen training set ships with; any
    // row change moves it, any partitioning/layout does not.
    "q164_freeze_digest" -> ((s, dir) =>
      graft.ops.Profiler.tableDigest(documents(s, dir),
        Seq("doc_id", "text", "lang", "source", "n_chars"))),

    // Length-quality correlation (ops.Robust.pearsonFixed): per
    // source, Pearson r of n_chars vs the classifier score in fixed
    // point — exact long moments in one aggregate, a fixed IEEE op
    // sequence, code 0 for zero-variance sides. The metric-
    // relationship report behind "is the quality gate just a length
    // gate on this source?".
    "q162_length_quality_corr" -> ((s, dir) => {
      val scored = documents(s, dir).where(col("text").isNotNull)
        .select(col("source"), col("n_chars").as("x"),
          graft.functions.exprs.classifier_score(
            graft.text.TextFunctions.tokens(col("text"))).as("y"))
      graft.ops.Robust.pearsonFixed(scored, "source", "x", "y")
    }),

    // First-carrier attribution (text.CrossDoc.firstCarrierStats):
    // in id order, the fraction of each doc's distinct 5-shingles it
    // INTRODUCED — origins rank above mirrors; the ordering twin of
    // q144's snapshot novelty, the HOW-MUCH to q91's WHO-stays.
    "q160_first_carrier" -> ((s, dir) =>
      graft.text.CrossDoc.firstCarrierStats(documents(s, dir),
        "doc_id", "text", shingleK = 5)),

    // Rolling 7-day active users (etl.Funnels.rollingActive): WAU per
    // observed day — each (user, day) fact explodes to the <= 7
    // window ends it feeds (fixed map-side blowup), one distinct
    // count; no range join, no window function.
    "q161_rolling_active" -> ((s, dir) =>
      graft.etl.Funnels.rollingActive(events(s, dir))),

    // Cluster keyword profiling (text.Vocab.clusterKeywords): the
    // c-TF-IDF labeling step — per source, the top-5 3-shingle terms
    // by carrying-docs * whole-bit idf over clusters-as-meta-
    // documents; a term in every cluster scores exactly zero. "What
    // IS this source" — the label a cluster browser shows.
    "q159_cluster_keywords" -> ((s, dir) =>
      graft.text.Vocab.clusterKeywords(documents(s, dir), "source",
          "text", k = 5, shingleK = 3)
        .withColumnRenamed("cluster", "source")),

    // Component churn report: per CURRENT dup family, how many
    // pre-batch families it unites — restricting the pair graph to
    // the old corpus (sound: Jaccard is pairwise) and re-running the
    // closure. merged=true families are the bridges a new crawl
    // batch built between previously-separate content clusters — the
    // signal that incremental dedup state (q89) must re-fold, and the
    // quality eye on what a batch did to the family structure.
    "q158_component_churn" -> ((s, dir) => {
      val (cat, table) = pairGraphTable(s, dir, threshold = 0.25)
      val pairs = cat.read(s, table).select(col("id_a"), col("id_b"))
      graft.dedup.Dedup.componentChurn(pairs,
        pairs.filter(col("id_a") % 9 =!= 0 && col("id_b") % 9 =!= 0))
    }),

    // Vocabulary coverage curve (text.Vocab.coverageCurve): at each
    // power-of-two vocab size, the corpus token mass the top-k types
    // cover — the "how big a tokenizer budget" plot; exact type ranks
    // and running mass via the constant-segment two-phase machinery.
    "q156_vocab_coverage" -> ((s, dir) =>
      graft.text.Vocab.coverageCurve(documents(s, dir), "text")),

    // Winnowing as dedup candidate generation (text.Winnow
    // .candidatePairs): docs sharing >= 2 selected fingerprints —
    // the MOSS use of q146's fingerprints; fp-keyed self-join with
    // the knnJoin flood-cap discipline, pair mass = collision mass.
    "q157_winnow_pairs" -> ((s, dir) =>
      graft.text.Winnow.candidatePairs(documents(s, dir), "doc_id",
        "text", shingleK = 3, window = 4, minShared = 2)),

    // ORC round trip (Sources.writeOrc/readOrc): q72's lossless-
    // interchange contract over the OTHER columnar warehouse format —
    // Hive-native shops hand pipelines ORC, not parquet. Same
    // artifact-once discipline as the JSONL dump.
    "q167_orc_roundtrip" -> ((s, dir) =>
      graft.sources.Sources.readOrc(s, orcExport(s, dir))),

    // Z-order layout skip report (ops.ZOrder): per z-bucket bounding
    // boxes over (user, day) plus the exact file-pruning decision a
    // min/max reader makes for one box query — the measurable form of
    // "multi-dimensional clustering makes box scans cheap". The
    // z-value is plain integer bit arithmetic; ZOrder.zValueSql emits
    // the SAME term expansion the oracle runs, so the two cannot
    // drift.
    "q168_zorder_skip" -> ((s, dir) => {
      val ev = events(s, dir).select(
        pmod(col("user_id"), lit(256L)).as("xd"),
        pmod(datediff(to_date(col("ts")),
          lit("1970-01-01").cast("date")).cast("long"), lit(256L)).as("yd"))
      val stats = graft.ops.ZOrder.bucketStats(ev, "xd", "yd",
        bits = 8, bucketShift = 8)
      graft.ops.ZOrder.boxSkipReport(stats, 32, 63, 16, 23)
    }),

    // Daily-volume trend per event type (ops.Trend.dailyTrend): OLS
    // slope/intercept as exact BIGINT fractions — the growing-or-
    // dying monitor behind ingest mix decisions, with no IEEE
    // aggregation anywhere (regr_slope's double sums are partition-
    // order dependent at 1000 executors; these moments are not).
    "q169_trend_ols" -> ((s, dir) =>
      graft.ops.Trend.dailyTrend(events(s, dir), "event_type", "ts",
        anchor = "2024-01-01")),

    // Daily-seasonality detector (ops.Trend.autocorrFixed): lag-24
    // autocorrelation of hourly event volume per type — zero-filled
    // over each type's whole bin span (gaps ARE signal), then q162's
    // integer-moment Pearson with one guarded IEEE division. The
    // periodicity check that validates q135's trailing-baseline burst
    // alarm.
    "q193_autocorr" -> ((s, dir) =>
      graft.ops.Trend.autocorrFixed(events(s, dir), "ts", "event_type",
        binSeconds = 3600L, lag = 24)),

    // CUSUM changepoint localization (ops.Trend.cusumChangepoint):
    // WHERE q169/q193 say a feed changed, this says WHEN — the split
    // maximizing |S_t·B − t·S_B| over the zero-filled day span (Page
    // 1954, integer form; ties to the earliest day), with exact
    // fixed-point before/after daily means for the human reading.
    "q199_changepoint" -> ((s, dir) =>
      graft.ops.Trend.cusumChangepoint(events(s, dir), "event_type",
        "ts", anchor = "2024-01-01")),

    // Feed-outage report (ops.Trend.coverageReport): per type over
    // its day span — active/silent day counts and the LONGEST
    // consecutive silent run via gaps-and-islands (one 14-day outage
    // is an incident; fourteen scattered quiet days are a thin feed).
    "q204_coverage" -> ((s, dir) =>
      graft.ops.Trend.coverageReport(events(s, dir), "event_type",
        "ts", anchor = "2024-01-01")),

    // Corpus concentration (ops.Balance.giniConcentration): the Gini
    // of per-source token mass — the one-number inequality audit
    // behind mixture decisions (q137 caps the symptom; this measures
    // it). Exact integer rank formula, 0 = uniform shares.
    "q200_gini_concentration" -> ((s, dir) =>
      graft.ops.Balance.giniConcentration(
        documents(s, dir).where(col("text").isNotNull),
        "source", TF.tokenCount(col("text")).cast("long"))),

    // Character-diversity quality gate (functions.exprs
    // .char_entropy_proxy / char_distinct_cp): whole-bit entropy
    // proxy Σ count·floor(log2 count) plus distinct code points, one
    // codegen'd kernel call per row inside the scan projection — the
    // boilerplate/padding detector. The oracle rebuilds both numbers
    // from a one-row-per-character explode.
    "q170_entropy_gate" -> ((s, dir) =>
      documents(s, dir).where(col("text").isNotNull).select(
        col("doc_id"),
        length(col("text")).as("n_cp"),
        graft.functions.exprs.char_distinct_cp(col("text"))
          .as("distinct_cp"),
        graft.functions.exprs.char_entropy_proxy(col("text"))
          .as("entropy_proxy"),
        (graft.functions.exprs.char_distinct_cp(col("text")) < lit(12))
          .as("low_diversity"))),

    // Bucketed co-located join (catalog.Bucketed): orders and
    // customer stored pre-hashed on the join key, so the repeated
    // fact ⋈ dim pays ZERO exchange on either side — the persisted
    // form of shuffle avoidance when no side is broadcastable
    // (BucketedJoinSpec pins the exchange-free plan; this query
    // hash-gates that the layout changes no answer).
    "q171_bucketed_join" -> ((s, dir) => {
      val (ot, ct) = bucketedTables(s, dir)
      val o = graft.catalog.Bucketed.table(s, ot)
      val c = graft.catalog.Bucketed.table(s, ct)
      o.join(c, o("o_custkey") === c("c_custkey"))
        .groupBy(col("c_mktsegment"))
        .agg(count(lit(1)).as("n_orders"),
          centsSum(col("o_totalprice")).as("sum_price"))
    }),

    // Fellegi-Sunter linkage scoring (ops.Linkage.scorePairs) over
    // q128's sorted-neighborhood candidates: four compared fields
    // (banded title edit distance, lang, source, length tolerance)
    // with pinned integer log-odds — the probabilistic step between
    // candidate generation and a merge decision, exact long
    // arithmetic end to end.
    "q172_linkage_score" -> ((s, dir) => {
      // null text is filtered explicitly: Spark sorts NULLs first,
      // DuckDB's window ORDER BY sorts them last — unguarded, one
      // null-text row would shift both ends of the neighbor order
      val docs = documents(s, dir).where(col("text").isNotNull)
      val cands = graft.dedup.SortedNeighborhood.candidatePairs(
        docs, "doc_id", "text", window = 3, levPrefix = 48,
        threshold = 2)
      val a = docs.select(col("doc_id").as("a_id"),
        col("lang").as("a_lang"), col("source").as("a_source"),
        col("n_chars").as("a_n"))
      val b = docs.select(col("doc_id").as("b_id"),
        col("lang").as("b_lang"), col("source").as("b_source"),
        col("n_chars").as("b_n"))
      import graft.ops.Linkage
      Linkage.scorePairs(cands.join(a, "a_id").join(b, "b_id"),
          Seq(
            Linkage.Field("title", col("lev") <= 2, 22L, -6L),
            Linkage.Field("lang", col("a_lang") === col("b_lang"),
              14L, -3L),
            Linkage.Field("source",
              col("a_source") === col("b_source"), 9L, -2L),
            Linkage.Field("len", abs(col("a_n") - col("b_n")) <= 16,
              5L, -4L)),
          matchThreshold = 20L)
        .select(col("a_id"), col("b_id"), col("title_agree"),
          col("lang_agree"), col("source_agree"), col("len_agree"),
          col("score"), col("is_match"))
    }),

    // Materialized-view maintenance (ops.IncAgg): the per-type
    // (n, sum, min, max) report maintained as mergeable STATE —
    // fold the new batch's state into the standing state instead of
    // rescanning history; the oracle is the recompute-from-scratch
    // the merge provably equals.
    "q173_agg_state_merge" -> ((s, dir) => {
      val ev = events(s, dir).select(col("event_type"),
        dayofmonth(col("ts")).as("d"),
        Exact.cents(col("value")).as("cents"))
      val hist = ev.filter(col("d") <= 15)
      val batch = ev.filter(col("d") > 15)
      graft.ops.IncAgg.merge(Seq("event_type"),
        Seq(graft.ops.IncAgg.state(hist, Seq("event_type"), "cents"),
          graft.ops.IncAgg.state(batch, Seq("event_type"), "cents")))
    }),

    // Deterministic Poisson bootstrap (ops.Bootstrap.replicateMeans):
    // 32 seeded-md5 replicates of mean doc length per source, every
    // draw and every mean an exact integer the oracle replays — the
    // sampling distribution behind "did the filter MOVE the mean, or
    // is that noise?".
    "q174_bootstrap_means" -> ((s, dir) =>
      graft.ops.Bootstrap.replicateMeans(documents(s, dir), "source",
        "doc_id", "n_chars", reps = 32, salt = "boot42")),

    // SCD2 point-in-time read (etl.Scd.asOf over Scd.history): each
    // user's state row valid at the frozen instant — "what did the
    // dimension say when the model trained?". Pure pushed-down
    // predicate over the history, no window at read time.
    "q175_scd_asof" -> ((s, dir) => {
      val hist = graft.etl.Scd.history(
        events(s, dir).select(col("user_id"), col("ts"),
          col("event_type"), col("event_id")),
        Seq("user_id"), "ts", Seq("event_type"), Seq("event_id"))
      graft.etl.Scd.asOf(hist,
          lit("2024-01-15 00:00:00").cast("timestamp_ntz"))
        .select(col("user_id"), col("event_type"), col("effective_from"))
    }),

    // Schema-evolution read (Sources.readParquetMerged): two parquet
    // epochs written under different schemas (the corpus grew source
    // and n_chars columns mid-life) reconciled by mergeSchema — old
    // epochs carry NULL for columns they predate, and the whole
    // unioned frame is hash-gated.
    "q176_schema_evolution" -> ((s, dir) =>
      graft.sources.Sources.readParquetMerged(s, schemaEpochs(s, dir))
        .select(col("doc_id"), col("text"), col("lang"), col("source"),
          col("n_chars"))),

    // Theil-Sen robust trend (ops.Trend.theilSen): the median of all
    // pairwise daily slopes per type — the outage/backfill-immune
    // twin of q169's OLS; exact-integer milli-slopes, deterministic
    // lower median, pair mass bounded by observed DAYS squared.
    "q178_theil_sen" -> ((s, dir) =>
      graft.ops.Trend.theilSen(events(s, dir), "event_type", "ts",
        anchor = "2024-01-01")),

    // Content-defined chunking (TextFunctions.contentChunks): chunk
    // boundaries keyed on token-hash content, not position — an edit
    // perturbs only its own chunk, the property dedup storage needs;
    // per-chunk XOR fingerprints, fully FNV-replayed by the oracle.
    "q186_cdc_chunks" -> ((s, dir) =>
      graft.text.TextFunctions.contentChunks(
        documents(s, dir).where(col("text").isNotNull),
        "doc_id", "text", modulus = 16)),

    // Kendall tau-b per source (ops.Eval.kendallBySegment): does the
    // classifier score ORDER documents the way length does? — the
    // assumption-free rank twin of q162's Pearson; five exact pair
    // classes from one id-ordered self-join, then q162's fixed IEEE
    // op-sequence into a 2^14 code.
    "q184_kendall" -> ((s, dir) => {
      val scored = documents(s, dir).where(col("text").isNotNull)
        .select(col("source"), col("doc_id"),
          col("n_chars").as("x"),
          graft.functions.exprs.classifier_score(
            graft.text.TextFunctions.tokens(col("text"))).as("y"))
      graft.ops.Eval.kendallBySegment(scored, "source", "x", "y",
        "doc_id")
    }),

    // The CORPUS-SCALE Kendall twin (ops.Eval.kendallBySegmentScalable):
    // identical output to q184 from a segmented O(n log n) inversion
    // count — merge-sort rank rounds over segmentedRowNumber plus a
    // per-bucket Fenwick pass — with NO self-join in the plan (pinned
    // by KendallScalableSpec). Carries q184's own oracle, the q38/q52
    // pattern.
    "q187_kendall_scalable" -> ((s, dir) => {
      val scored = documents(s, dir).where(col("text").isNotNull)
        .select(col("source"), col("doc_id"),
          col("n_chars").as("x"),
          graft.functions.exprs.classifier_score(
            graft.text.TextFunctions.tokens(col("text"))).as("y"))
      graft.ops.Eval.kendallBySegmentScalable(scored, "source", "x",
        "y", "doc_id")
    }),

    // Quantile normalization (ops.Quantiles.quantileNormalize): every
    // source's length profile mapped onto the pooled distribution at
    // the same relative rank — exact integer positions, the
    // distribution-alignment step before cross-source comparison.
    "q185_quantile_norm" -> ((s, dir) =>
      graft.ops.Quantiles.quantileNormalize(documents(s, dir),
        "source", "n_chars", "doc_id")),

    // CUBE + grouping_id (q32's rollup widened to the full lattice):
    // every (year, status) subtotal plane in ONE pass — Spark's
    // Expand — with the standard bitmask disambiguating "NULL because
    // aggregated away" from a NULL data value; the warehouse
    // subtotal-report shape.
    "q183_cube_report" -> ((s, dir) =>
      orders(s, dir)
        .withColumn("year_o", year(col("o_orderdate")))
        .cube(col("year_o"), col("o_orderstatus"))
        .agg(grouping_id().as("gid"),
          count(lit(1)).as("n_orders"),
          Exact.sumMoney(col("o_totalprice")).as("sum_total"))
        .select(col("year_o"), col("o_orderstatus"), col("gid"),
          col("n_orders"), col("sum_total"))),

    // NDCG@10 (ops.Eval.ndcgAtK) of the q113 hybrid ranking against
    // GRADED dense ground truth (top-3 at grades 3/2/1) — the ranking
    // metric that rewards order, not just membership; discounts are a
    // pinned integer table (no runtime log), exact to the last digit.
    "q182_ndcg" -> ((s, dir) => {
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
    }),

    // Exact AUC per source (ops.Eval.aucBySegment): the Mann-Whitney
    // rank-sum of the q93 classifier score predicting the length
    // label, ties counted 1/2 via doubled midranks — every step an
    // exact integer; the "is this score worth thresholding" report.
    "q180_auc" -> ((s, dir) => {
      val scored = documents(s, dir).where(col("text").isNotNull)
        .select(col("source"),
          graft.functions.exprs.classifier_score(
            graft.text.TextFunctions.tokens(col("text"))).as("score"),
          (col("n_chars") >= 300).cast("int").as("y"))
      graft.ops.Eval.aucBySegment(scored, "source", "score", "y")
    }),

    // Confusion cells + fixed-point precision/recall/F1 at the
    // pinned threshold (ops.Eval.confusionAt) — q180's companion:
    // once the AUC says the score ranks well, this is the operating
    // point report.
    "q181_confusion" -> ((s, dir) => {
      val scored = documents(s, dir).where(col("text").isNotNull)
        .select(col("source"),
          graft.functions.exprs.classifier_score(
            graft.text.TextFunctions.tokens(col("text"))).as("score"),
          (col("n_chars") >= 300).cast("int").as("y"))
      graft.ops.Eval.confusionAt(scored, "source", "score", "y",
        threshold = 0L)
    }),

    // Leakage-safe target encoding (ops.TargetEncode.encodingTable):
    // each (source, fold) cell's smoothed OUT-of-fold target mean in
    // 1e-6 units — the categorical featurizer that cannot leak a
    // row's own label; seeded-md5 folds, frozen prior code, exact
    // long arithmetic.
    "q179_target_encode" -> ((s, dir) =>
      graft.ops.TargetEncode.encodingTable(
        documents(s, dir).withColumn("quality",
          (col("n_chars") >= 300).cast("int")),
        "source", "quality", "doc_id", folds = 5, m = 20L,
        salt = "te42")),

    // Native session windows (functions.session_window): the
    // state-store-capable form of q17's gap sessionization — the SAME
    // 30-minute gap law, but as a session-merging aggregate with no
    // per-user sort window, which is what the streaming path runs.
    "q177_session_window" -> ((s, dir) =>
      events(s, dir)
        .groupBy(col("user_id"), session_window(col("ts"), "30 minutes"))
        .agg(count(lit(1)).as("n_events"))
        .select(col("user_id"),
          col("session_window.start").as("session_start"),
          col("session_window.end").as("session_end"),
          col("n_events"))),

    // Equi-depth histogram (ops.Quantiles.equiDepthHistogram): 16
    // same-population buckets of o_totalprice with exact [lo, hi]
    // spans — the quantile boundaries a partitioner or drift monitor
    // wants, where equi-width wastes buckets on skew. Exact ranks via
    // the constant-segment two-phase form; never one global window.
    "q154_equidepth_histogram" -> ((s, dir) =>
      graft.ops.Quantiles.equiDepthHistogram(orders(s, dir),
        "o_totalprice", "o_orderkey", nTiles = 16)),

    // Per-source duplication report (composition over the q47
    // components): which sources are template mills — doc volume,
    // members-in-dup-families, distinct families, dup rate. The
    // report that decides WHERE to spend the dedup budget.
    "q155_source_dup_report" -> ((s, dir) => {
      val (cat, table) = pairGraphTable(s, dir, threshold = 0.4)
      val comp = graft.dedup.Curation.componentsFromCatalog(s, cat, table)
      documents(s, dir).select(col("doc_id"), col("source"))
        .join(comp.select(col("id").as("doc_id"), col("component")),
          Seq("doc_id"), "left")
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("component").isNotNull.cast("long")).as("n_in_family"),
          countDistinct(col("component")).as("n_families"))
        .withColumn("dup_rate", col("n_in_family") / col("n_docs"))
    }),

    // Behavioral path mining (ops.Paths.sessionPathTrigrams): every
    // within-session event-type trigram with its corpus frequency —
    // q121's funnel asks about ONE prescribed path, this surfaces all
    // of them. q17's session rule verbatim; |types|^3-bounded output.
    "q153_path_trigrams" -> ((s, dir) =>
      graft.ops.Paths.sessionPathTrigrams(events(s, dir), "user_id",
        "ts", "event_id", "event_type")),

    // Mixed-language detection (text.LangConsistency.mixedLanguage):
    // language-ID per 32-token chunk, majority + agreement per doc —
    // the CCNet per-paragraph discipline that catches the 60%-English
    // page wrapped around a German article; mixed = under 80% chunk
    // agreement (integer cross-multiplication, no division).
    "q152_mixed_language" -> ((s, dir) =>
      graft.text.LangConsistency.mixedLanguage(
        documents(s, dir), "doc_id", "text", chunkSize = 32)),

    // Robust MAD outlier gate (ops.Robust.madOutliers): per source,
    // median +/- 3*MAD on the integer classifier score — the gate that
    // survives heavy tails where mean/sigma hides its own outliers.
    // Exact lower medians via the two-phase segmented rank (q136's
    // machinery); all-integer verdicts.
    "q151_mad_outliers" -> ((s, dir) => {
      val scored = documents(s, dir).where(col("text").isNotNull)
        .select(col("doc_id"), col("source"),
          graft.functions.exprs.classifier_score(
            graft.text.TextFunctions.tokens(col("text"))).as("score"))
      graft.ops.Robust.madOutliers(scored, "source", "score", "doc_id")
    }),

    // Dedup-weighted sampling (dedup.Curation.dedupWeightedSample):
    // keep each doc with probability 1/|its dup family| — content
    // represented once in expectation, copies chosen by the md5
    // permutation; singletons always survive. The middle road between
    // keeping every near-dup and hard dedup to one survivor.
    "q148_dedup_weighted_sample" -> ((s, dir) => {
      val (cat, table) = pairGraphTable(s, dir, threshold = 0.4)
      graft.dedup.Curation.dedupWeightedSample(documents(s, dir), "doc_id",
        graft.dedup.Curation.componentsFromCatalog(s, cat, table))
    }),

    // k-anonymity gate (ops.Privacy.kAnonymize): (lang, source)
    // combinations carried by < 5 docs mask to '*' — the
    // re-identification check run before metadata ships alongside
    // text. One combo-count aggregate + null-safe join back.
    "q149_k_anonymity" -> ((s, dir) =>
      graft.ops.Privacy.kAnonymize(documents(s, dir), "doc_id",
        Seq("lang", "source"), k = 5)),

    // CDC apply / batch MERGE INTO (ops.Merge.applyChanges): fold a
    // keyed I/U/D feed into the standing table — untouched rows pay
    // one broadcast anti-join and stream through unshuffled. Feed
    // synthesized deterministically: %5==4 insert, %7==0 update
    // (n_chars + 1000), %11==0 (and not updated) delete.
    "q150_cdc_merge" -> ((s, dir) => {
      val d = documents(s, dir)
      val standing = d.filter(col("doc_id") % 5 =!= 4)
      val changes = d.filter(col("doc_id") % 5 === 4)
        .withColumn("op", lit("I"))
        .unionByName(standing.filter(col("doc_id") % 7 === 0)
          .withColumn("n_chars", col("n_chars") + lit(1000L))
          .withColumn("op", lit("U")))
        .unionByName(standing
          .filter(col("doc_id") % 11 === 0 && col("doc_id") % 7 =!= 0)
          .withColumn("op", lit("D")))
      graft.ops.Merge.applyChanges(standing, changes, "doc_id")
    }),

    // Triangle enumeration (ops.LinkAnalysis.triangles) over the
    // char-5-gram pair graph at 0.25: degree-oriented so wedge mass is
    // O(m^1.5) regardless of hubs — the cohesion signal that separates
    // genuine mutual dup clusters (triangle-dense, safe to collapse)
    // from template stars (triangle-free, collapsing merges content).
    "q147_triangles" -> ((s, dir) => {
      val (cat, table) = pairGraphTable(s, dir, threshold = 0.25)
      graft.ops.LinkAnalysis.triangles(cat.read(s, table))
    }),

    // Winnowing fingerprints (text.Winnow.fingerprints): the MOSS
    // local fingerprinting algorithm — per window of 4 consecutive
    // 3-gram hashes, the minimum (rightmost tie), so any shared run
    // of >= w+k-1 tokens is guaranteed a common fingerprint at ~2/(w+1)
    // density. All-integer packed argmin; per-doc window partition.
    "q146_winnow_fingerprints" -> ((s, dir) =>
      graft.text.Winnow.fingerprints(documents(s, dir), "doc_id", "text",
        shingleK = 3, window = 4)),

    // Whitening APPLY (sim.Whitening.whiten): per (vec, dim), the
    // z-score of the fixed-point code against q130's corpus moments,
    // in fixed point — the standardization pass in front of PQ /
    // linear probes / isotropic ANN. Moments broadcast (dim rows);
    // apply side is explode → broadcast-join → project, zero
    // exchanges after the one-scan moments aggregate.
    "q145_whiten_apply" -> ((s, dir) =>
      graft.sim.Whitening.whiten(embeddings(s, dir))),

    // Table profile (ops.Profiler.profile): per-column volume, null
    // count, exact distinct — one aggregate, one scan (Expand plan);
    // the arrival-audit every ETL run fronts with.
    "q139_profile" -> ((s, dir) =>
      graft.ops.Profiler.profile(orders(s, dir), Seq(
        "o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
        "o_orderdate", "o_orderpriority"))),

    // Expectation gate (ops.Profiler.expect): declarative contract
    // clauses evaluated as conditional counts in ONE pass — the
    // quantity range is deliberately tighter than the data (1..45 vs
    // the actual 1..50) so the report carries real violations.
    "q140_expectations" -> ((s, dir) => {
      import graft.ops.Profiler.Expectation
      graft.ops.Profiler.expect(lineitem(s, dir), Seq(
        Expectation.notNull("l_orderkey"),
        Expectation.between("l_quantity", 1, 45),
        Expectation.between("l_discount", 0.0, 0.1),
        Expectation.inSet("l_returnflag", Seq("A", "N", "R"))))
    }),

    // Benford first-digit audit (ops.Profiler.benford) of the
    // extended-price cents image — the fabricated-feed screen: a
    // uniform generator or a truncating bug flattens the digit
    // histogram long before row checks fire. Digit from the BIGINT's
    // decimal string (identical in both engines; no float log10
    // boundary), expected table in per-million units summing to
    // exactly 1e6.
    "q198_benford" -> ((s, dir) =>
      graft.ops.Profiler.benford(lineitem(s, dir),
        graft.ops.Exact.cents(col("l_extendedprice")))),

    // Inter-snapshot distribution drift (ops.Snapshot.driftReport):
    // token-length bins (width 10) of the q134 snapshots, per-bin
    // share ratio in fixed point — the population-shift monitor the
    // id-level diff can't see; one-sided bins always flag.
    "q138_drift_report" -> ((s, dir) => {
      val d = documents(s, dir)
      val oldSnap = d.filter(col("doc_id") % 7 =!= 0)
        .select(TF.tokenCount(col("text")).as("n_tokens"))
      val newSnap = d.filter(col("doc_id") % 5 =!= 0)
        .withColumn("text", when(col("doc_id") % 11 === 0,
          concat(col("text"), lit(" [rev2]"))).otherwise(col("text")))
        .select(TF.tokenCount(col("text")).as("n_tokens"))
      graft.ops.Snapshot.driftReport(oldSnap, newSnap, "n_tokens",
        binWidth = 10, tolerance = 2000)
    }),

    // Per-source two-sample KS drift (ops.Snapshot.ksDrift): the
    // binless ECDF companion to q138 over the same snapshot pair —
    // grouped by source so each upstream feed gets its own verdict.
    // KS in integer micro-units (each ECDF quantized by integral DIV
    // before differencing — bit-identical in both engines, overflow-
    // safe to ~9e12 rows/group); a feed empty on either side reports
    // the full statistic and always flags.
    "q189_ks_drift" -> ((s, dir) => {
      val d = documents(s, dir).where(col("text").isNotNull)
      val oldSnap = d.filter(col("doc_id") % 7 =!= 0)
        .select(col("source"), TF.tokenCount(col("text")).as("n_tokens"))
      val newSnap = d.filter(col("doc_id") % 5 =!= 0)
        .withColumn("text", when(col("doc_id") % 11 === 0,
          concat(col("text"), lit(" [rev2]"))).otherwise(col("text")))
        .select(col("source"), TF.tokenCount(col("text")).as("n_tokens"))
      graft.ops.Snapshot.ksDrift(oldSnap, newSnap, "source", "n_tokens",
        toleranceFp = 100000L)
    }),

    // Burst detection (ops.Bursts.burstScore): hourly event-type
    // volume vs its trailing-6-bin baseline, fixed-point ratio,
    // bursts at 2.0x — the raw stream is touched once (the count);
    // the window runs on the telemetry-scale bin frame.
    "q135_burst_detect" -> ((s, dir) =>
      graft.ops.Bursts.burstScore(events(s, dir), "ts", "event_type",
        binSeconds = 3600, trail = 6, threshold = 20000)),

    // Cross-source score calibration (text.FilterStack
    // .calibratedScores): classifier score -> per-source percentile,
    // so "keep each source's best X%" replaces a skew-blind global
    // threshold; exact two-phase ranks, one IEEE division per row.
    "q136_calibrated_quality" -> ((s, dir) =>
      graft.text.FilterStack.calibratedScores(documents(s, dir),
        "doc_id", "text", "source")),

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
    "q203_rate_significance" -> ((s, dir) => {
      val d = documents(s, dir).where(col("text").isNotNull)
      val scored = d.select(col("source"),
        graft.functions.exprs.classifier_score(
          TF.tokens(col("text"))).as("score"))
      graft.ops.Robust.rateSignificance(scored, "source",
        col("score") >= 0)
    }),

    // Reliability diagram (ops.Eval.reliabilityBins): the decile
    // calibration audit q192's isotonic fit summarizes — per source,
    // ten equal-count score bands with observed positive rate and
    // score span; ntile over the (score, id) total order is exact in
    // both engines.
    "q202_reliability" -> ((s, dir) => {
      val d = documents(s, dir).where(col("text").isNotNull)
      val scored = d.select(col("source"), col("doc_id"),
        graft.functions.exprs.classifier_score(
          TF.tokens(col("text"))).as("score"),
        when(col("lang") === "en", 1L).otherwise(0L).as("y"))
      graft.ops.Eval.reliabilityBins(scored, "source", "score",
        "doc_id", "y", bins = 10)
    }),

    "q192_isotonic_calibration" -> ((s, dir) => {
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
    }),

    // Per-source budget cap (ops.Balance.sourceBudget): each source
    // keeps its best 15 docs by (classifier score DESC, id ASC) —
    // the C4/RefinedWeb anti-domination quota; bounded-heap per
    // source, total frame with verdicts.
    "q137_source_budget" -> ((s, dir) => {
      val d = documents(s, dir).where(col("text").isNotNull)
      val scored = d.select(col("doc_id"), col("source"),
        graft.functions.exprs.classifier_score(
          TF.tokens(col("text"))).as("score"))
      graft.ops.Balance.sourceBudget(scored, "doc_id", "source",
        "score", k = 15)
    }),

    // Strictly-ordered conversion funnel (etl.Funnels.funnel): per
    // user, how deep the view -> click -> purchase chain got and when
    // — conditional-min aggregates per stage, no stream-wide window.
    "q121_funnel" -> ((s, dir) =>
      graft.etl.Funnels.funnel(events(s, dir))),

    // Weekly cohort retention (etl.Funnels.cohortRetention): first-
    // seen ISO week x whole-week offset, distinct active users per
    // cell — the standing retention table.
    "q122_cohorts" -> ((s, dir) =>
      graft.etl.Funnels.cohortRetention(events(s, dir))),

    // Count-Min frequency sketch (ops.Sketches.freqSketch/cmEstimate):
    // one 8 KiB mergeable counter grid over the corpus token stream,
    // point estimates (min of d cells) for the keyword terms next to
    // their exact counts — the mergeable-frequency twin of q62's HLL.
    "q120_cm_freq" -> ((s, dir) => {
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
    }),

    // Surgical decontamination (text.Retrieval.phraseScrub): remove
    // exactly the verbatim phrase occurrences, keep the document —
    // position-union drops, survivors rejoined in order; total frame.
    "q117_phrase_scrub" -> ((s, dir) =>
      graft.text.Retrieval.phraseScrub(documents(s, dir), "doc_id",
        "text", phraseQueryFrame(s))),

    // Retrieval evaluation (text.Retrieval.rankEval): the q113 hybrid
    // ranking scored against the exact dense top-3 ground truth —
    // MRR / hits / recall@10 per query, the offline eval loop.
    "q118_rank_eval" -> ((s, dir) => {
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
    }),

    // Sequence-length-warmup curriculum (ops.Curriculum): whole-bit
    // length stages ascending, the q87 seeded-md5 permutation within
    // each stage, one global `pos` — ranked by the parallel two-phase
    // form the oracle's naive global window replays exactly.
    "q108_curriculum" -> ((s, dir) => {
      val d = documents(s, dir)
        .withColumn("n_tokens", TF.tokenCount(col("text")))
        .withColumn("stage",
          graft.ops.Curriculum.lengthStage(col("n_tokens")))
        .select(col("doc_id"), col("n_tokens"), col("stage"))
      graft.ops.Curriculum.stagedOrder(d, "doc_id", "stage",
        seed = "cur42", nBuckets = 16)
    }),

    // The modern filter stack end to end (text.FilterStack): Gopher
    // repetition + CCNet perplexity band + classifier + exact-dedup
    // keeper, per-gate verdicts AND the conjunction — the funnel-
    // accounting frame a curation run consumes. Every leg reuses an
    // operator already oracle-gated alone (q100/q101/q93/q15).
    "q109_filter_stack" -> ((s, dir) =>
      graft.text.FilterStack.modernGates(documents(s, dir), "doc_id",
        "text", pplLo = 3.95, pplHi = 4.15)),

    // Concat-and-chunk sequence packing (ops.Packing): every doc's
    // position in the per-shard training-token stream — one shuffle on
    // the shard key, per-shard cumsum, layout reproduced bit-for-bit
    // by the oracle's window form. Shard count is the parallelism knob
    // (thousands at corpus scale; 8 here).
    "q60_sequence_pack" -> ((s, dir) =>
      graft.ops.Packing.concatChunk(documents(s, dir), "doc_id",
        TF.tokenCount(col("text")), seqLen = 512, nShards = 8)
        .select(col("doc_id"), col("shard"), col("n_tokens"),
          col("start"), col("seq_id"), col("offset_in_seq"))),

    // Engine-portable WEIGHTED sampling (ops.Sampling): keep each doc
    // with probability ∝ its length signal (importance resampling by
    // quality weight) — per-row md5 uniform vs per-row hex cut, so the
    // exact kept set reproduces in any hex-md5 engine; report by lang.
    "q63_weighted_sample" -> ((s, dir) => {
      val kept = graft.ops.Sampling.weightedMd5Sample(documents(s, dir),
        "doc_id", least(lit(1.0), col("n_chars") / lit(400.0)))
      kept.groupBy(col("lang"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n_chars")).as("sum_chars"))
    }),

    // Deterministic exactly-k-per-group sampling (ops.Sampling
    // .groupedMd5Sample): 20 docs per language by md5 rank — the
    // balanced-dataset primitive, selected through the bounded heap
    // (no per-group window sort; 5 groups here is exactly the
    // low-cardinality case the window form serializes on).
    "q66_grouped_sample" -> ((s, dir) =>
      graft.ops.Sampling.groupedMd5Sample(
        documents(s, dir), "doc_id", Seq("lang"), k = 20)),

    // The COMPLETE dataset build as one plan: curation (language →
    // quality → exact dedup → exact near-dup removal) feeding
    // sequence packing, reduced to the per-shard manifest a training
    // run consumes (docs, tokens, sequences). Every stage's arithmetic
    // is hash-verified cross-engine in one oracle — the end-to-end
    // composition a 100 TB corpus run executes, not just its pieces.
    "q67_dataset_build" -> ((s, dir) => {
      // near-dup stage from the materialized pair graph (the q47
      // medallion shape): the t=0.4 artifact carries exact jaccard
      // per pair, so filtering it at the curation threshold is
      // EXACTLY the in-place join's pair set restricted to survivors
      // (Curation.curateExactFromCatalog soundness note; q43 keeps
      // the self-contained variant for purity).
      val (cat, table) = pairGraphTable(s, dir, threshold = 0.4)
      val kept = graft.dedup.Curation.curateExactFromCatalog(
        documents(s, dir), "doc_id", "text", "lang", cat, table)
      graft.ops.Packing.concatChunk(kept, "doc_id",
          TF.tokenCount(col("text")), seqLen = 512, nShards = 4)
        .groupBy(col("shard"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n_tokens")).as("n_tokens"),
          // ceil(total_tokens / seqLen): the number of sequences the
          // shard's contiguous token stream fills — NOT max(seq_id)+1,
          // which counts only sequences where a doc STARTS and
          // undercounts when the last doc spans several chunks. The
          // double division is exact: n_tokens + 511 ≪ 2^44, so the
          // quotient (a multiple of 2^-9) is representable.
          floor((sum(col("n_tokens")) + lit(511)) / lit(512.0)).cast("long")
            .as("n_sequences"))
    }),

    // Cross-document repeated-substring signal (text.CrossDoc): the
    // fraction of each doc's distinct 5-word shingles that occur in
    // other documents — the substring-level dedup score pairwise joins
    // miss (Lee et al. 2021 motivation). Linear in shingle mass: no
    // pair frame, the shingle-keyed exchange reused for the join-back.
    "q59_shared_shingles" -> ((s, dir) =>
      graft.text.CrossDoc.duplicateShingleStats(
        documents(s, dir), "doc_id", "text", shingleK = 5)),

    // The flagship LLM-pipeline composition END-TO-END (SURVEY §7.4):
    // language filter → quality gate → exact dedup → exact n-gram
    // near-dup removal → corpus report, as ONE pure plan
    // (Curation.curateExact) with a DuckDB oracle reproducing every
    // stage. The 100 TB variant swaps the near-dup stage for the LSH
    // chain (Curation.curate, recall measured in docs/RECALL.md).
    "q43_curated_corpus" -> ((s, dir) => {
      val kept = graft.dedup.Curation.curateExact(
        documents(s, dir), "doc_id", "text", "lang")
      kept.groupBy(col("lang"), col("source"))
        .agg(count(lit(1)).as("n_docs"),
          sum(TF.tokenCount(col("text"))).cast("long").as("sum_tokens"),
          (sum(col("n_chars")) / count(lit(1))).as("avg_chars"))
    }),

    // The curation FUNNEL itself, oracle-gated (S11 row-count
    // metadata made cross-engine-verifiable): input / after-language /
    // after-quality / after-exact-dedup from ONE conditional-agg pass
    // over the corpus (the count-distinct-fingerprint trick — no
    // per-stage re-scan), after-near-dedup from the exact chain; the
    // two one-row frames join scalar-to-scalar. Every number a 100 TB
    // run would report as its drop accounting is hash-matched here.
    "q61_curation_funnel" -> ((s, dir) => {
      val cfg = graft.dedup.Curation.Config()
      val docs = documents(s, dir)
      // the SAME predicate + aggregate definitions curate() reports —
      // shared via Curation.{langOk, qualityOk, funnelAggs}, so the
      // gated funnel and the production accounting cannot drift
      val lang = graft.dedup.Curation.langOk(col("lang"), cfg)
      val keep = lang && graft.dedup.Curation.qualityOk(col("text"), cfg)
      val aggs = graft.dedup.Curation.funnelAggs(lang, keep, col("text"))
      val funnel = docs.agg(aggs.head, aggs.tail: _*)
      // near-dup survivors off the materialized pair graph (see q67)
      val (cat, table) = pairGraphTable(s, dir, threshold = 0.4)
      val near = graft.dedup.Curation.curateExactFromCatalog(
          docs, "doc_id", "text", "lang", cat, table)
        .agg(count(lit(1)).as("after_near_dedup"))
      funnel.crossJoin(near)
    }),

    // Mergeable HLL distinct-count sketches (ops.Sketches): per-type
    // user sketches rolled up by merge — the medallion COUNT(DISTINCT)
    // that never rescans rows (SketchesSpec pins merge ≡ full-recompute
    // bit-equality and replay idempotence). Oracle-able because at
    // cardinalities ≪ 2^lgK the DataSketches HLL is in exact coupon
    // mode, so the estimate equals DuckDB's exact distinct count.
    "q62_sketch_rollup" -> ((s, dir) => {
      val sk = graft.ops.Sketches.distinctSketch(
        events(s, dir), col("user_id"), Seq("event_type"))
      graft.ops.Sketches.rollup(sk, Seq("event_type"))
    }),

    // Transitive duplicate-cluster resolution: connected components
    // over the EXACT n-gram near-dup pair graph (min-label
    // propagation, one keyed shuffle per round) — every clustered
    // document labeled with its component representative. The oracle
    // recomputes the closure with a recursive CTE.
    //
    // Medallion shape (the 100 TB posture): the pair graph is
    // materialized ONCE per session into the artifact catalog — the
    // similarity join is hours at corpus scale, its output KBs — and
    // resolution reads the persisted table (no document scan, no
    // shingle expressions, no join re-derivation; pinned by PlanSpec).
    // The join itself stays measured as its own query (q24).
    "q47_dup_components" -> ((s, dir) => {
      val (cat, table) = pairGraphTable(s, dir, threshold = 0.4)
      graft.dedup.Curation.componentsFromCatalog(s, cat, table)
    }),

    // PII scrubbing (training-data redaction): emails / bare IPv4s /
    // long digit runs replaced with typed sentinels. The redacted TEXT
    // itself is hash-compared against DuckDB, proving the RE2-safe
    // pattern subset behaves identically across regex engines.
    "q49_pii_redaction" -> ((s, dir) => {
      documents(s, dir).select(
        col("doc_id"),
        TF.redactPii(col("text")).as("clean_text"),
        regexp_count(col("text"), lit(TF.emailRe)).as("n_emails"),
        regexp_count(col("text"), lit(TF.ipv4Re)).as("n_ips"),
        regexp_count(col("text"), lit(TF.longDigitsRe)).as("n_nums"))
    }),

    // The flagship 100 TB curation path ITSELF (not just its exact
    // twin): language → quality → exact dedup → MinHash-LSH near-dup
    // removal with transitive-closure components, as one plan
    // (Curation.curateLsh). Rows-only — the LSH chain is approximate
    // by design; its removal recall vs the exact-join chain is
    // measured in docs/RECALL.md and lower-bounded in RecallSpec.
    "q50_curation_lsh" -> ((s, dir) =>
      graft.dedup.Curation.curateLsh(
          documents(s, dir), "doc_id", "text", "lang")
        .select(col("doc_id"), col("lang"), col("source"), col("n_chars"))),

    // S1 ⊕ multimodal composition: the distributed ingest seam lands a
    // binary-payload manifest (url, payload, sha256, n_bytes) and the
    // media path consumes it batch-at-a-time — the end-to-end shape a
    // media-corpus pipeline runs (fetch → manifest → decode → features).
    // The url list is config-derived (the reference's month list,
    // raw.py), the fetcher is the deterministic offline Echo, and the
    // stub codec's features are a pure function of payload bytes — so
    // the WHOLE composition carries a full DuckDB oracle (the oracle
    // replays java.util.Arrays.hashCode over the url's ASCII codes
    // with 32-bit wraparound via list_reduce).
    "q51_ingest_media" -> ((s, dir) => {
      import s.implicits._
      val urls = (0 until 48).map { i =>
        val ext = i % 3 match { case 0 => "png"; case 1 => "wav"; case _ => "mp4" }
        f"https://cdn.example.org/media/item_$i%04d.$ext"
      }
      val manifest = graft.sources.Ingest.land(s, urls, graft.sources.Ingest.Echo,
        batchId = "demo")
      val media = manifest.select(
        regexp_extract(col("url"), "item_(\\d+)\\.", 1).cast("long").as("doc_id"),
        when(col("url").endsWith(".png"), "image")
          .when(col("url").endsWith(".wav"), "audio")
          .otherwise("video").as("media_type"),
        col("payload"),
        lit("cdn").as("source")).as[Multimodal.MediaFile]
      Multimodal.extractFeatures(media).toDF()
    }),

    // Repetition quality signal (the published duplicate-fraction
    // heuristics for corpus filtering): token-level repetition ratio
    // per document, pure per-row expressions.
    "q46_repetition" -> ((s, dir) => {
      val toks = TF.tokens(col("text"))
      val n = size(toks)
      val nd = size(array_distinct(toks))
      documents(s, dir).select(
        col("doc_id"),
        n.cast("int").as("n_tokens"),
        nd.cast("int").as("n_distinct_tokens"),
        when(n === 0, lit(0.0))
          .otherwise(lit(1.0) - nd.cast("double") / n).as("dup_token_ratio"))
    }),

    // Benchmark-contamination annotation (decontamination): distinct
    // 5-word-shingle overlap of every document against a probe set (the
    // pseudo-benchmark doc_id % 97 == 0 slice), probe shingles
    // broadcast, corpus scanned once.
    "q44_contamination" -> ((s, dir) => {
      val docs = documents(s, dir)
      graft.text.Contamination.flag(
        docs, docs.filter(col("doc_id") % 97 === 0), "doc_id", "text",
        shingleK = 5, minHits = 2)
    }),

    // Engine-portable stratified (language-rebalancing) sample:
    // per-stratum md5 thresholds, then the corpus report over the kept
    // rows — the reproducible-dataset-build primitive.
    "q45_stratified_sample" -> ((s, dir) => {
      graft.ops.Sampling.stratifiedMd5Sample(documents(s, dir),
          "doc_id", "lang", Map("en" -> "8", "de" -> "4", "fr" -> "2"))
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("n_docs"),
          (sum(col("n_chars")) / count(lit(1))).as("avg_chars"))
    }),

    // Set-operation semantics (INTERSECT/EXCEPT classification), computed
    // as ONE scan + ONE shuffle: groupBy(key).agg(max(predicate)) derives
    // membership in the filtered set, replacing the naive two-scan
    // INTERSECT + EXCEPT pair (two wide distinct-shuffles). The oracle
    // keeps the literal set-op formulation to prove equivalence.
    "q33_set_ops" -> ((s, dir) => {
      lineitem(s, dir)
        .groupBy(col("l_suppkey").as("suppkey"))
        .agg(max(col("l_quantity") >= 45).as("has_big"))
        .select(col("suppkey"),
          when(col("has_big"), "both").otherwise("small_only").as("cls"))
    }),

    // String-function breadth (portable, exactly-defined subset).
    "q34_string_funcs" -> ((s, dir) => {
      customer(s, dir).select(
        col("c_custkey"),
        upper(col("c_name")).as("up"),
        lower(col("c_mktsegment")).as("lo"),
        substring(col("c_name"), 1, 8).as("sub"),
        concat_ws("|", col("c_mktsegment"), col("c_name")).as("joined"),
        length(col("c_name")).as("len"),
        reverse(col("c_name")).as("rev"),
        lpad(col("c_custkey").cast("string"), 8, "0").as("padded"),
        regexp_replace(col("c_name"), "[0-9]+", "#").as("masked"),
        instr(col("c_name"), "1").as("pos1"))
    }),

    // Rollup report: year/month subtotal lattice in one pass (Spark
    // rollup ≡ SQL ROLLUP; NULL markers on subtotal rows match).
    "q32_rollup_report" -> ((s, dir) => {
      orders(s, dir)
        .withColumn("year_o", year(col("o_orderdate")))
        .withColumn("month_o", month(col("o_orderdate")))
        .rollup(col("year_o"), col("month_o"))
        .agg(count(lit(1)).as("n_orders"),
          Exact.sumMoney(col("o_totalprice")).as("sum_total"))
    }),

    // As-of (point-in-time) join: every event gets the user's most
    // recent purchase value/time at-or-before its timestamp — window
    // composition (ops.AsOf); oracle uses DuckDB's native ASOF JOIN.
    "q30_asof_purchase" -> ((s, dir) => {
      graft.ops.AsOf.lastObservation(
        events(s, dir),
        partitionBy = Seq(col("user_id")),
        time = col("ts"), tiebreak = col("event_id"),
        isObservation = col("event_type") === "purchase",
        "last_purchase_value" -> col("value"),
        "last_purchase_ts" -> col("ts"))
        .select(col("event_id"), col("user_id"), col("ts"),
          col("last_purchase_value"), col("last_purchase_ts"))
    }),

    // Nested/array results: grouped collection (sorted for determinism
    // — raw collect_list order varies with partitioning) + per-element
    // array transforms. Arrays are serialized to CSV strings at the
    // output boundary: the driver's comparator sorts rows in pandas,
    // which cannot hash ndarray cells.
    "q39_grouped_arrays" -> ((s, dir) => {
      def joined(c: Column) = array_join(transform(c, _.cast("string")), ",")
      lineitem(s, dir)
        .groupBy(col("l_orderkey"))
        .agg(
          array_sort(collect_list(col("l_linenumber"))).as("lns"),
          // count(*), not size(collect_list): collect_list drops nulls,
          // so its size only matches the count(*) oracle coincidentally
          count(lit(1)).cast("int").as("n_lines"),
          Exact.sumMoney(col("l_extendedprice")).as("order_value"))
        .select(col("l_orderkey"),
          joined(col("lns")).as("line_numbers"),
          col("n_lines"), col("order_value"),
          joined(transform(col("lns"), x => x * x)).as("line_numbers_sq"))
    }),

    // Conditional aggregation (FILTER-clause semantics): per-status
    // slices computed in one pass instead of multiple scans.
    "q37_conditional_agg" -> ((s, dir) => {
      orders(s, dir)
        .withColumn("year_o", year(col("o_orderdate")))
        .groupBy(col("year_o"))
        .agg(
          count(when(col("o_orderstatus") === "F", 1)).as("n_finished"),
          count(when(col("o_orderstatus") === "O", 1)).as("n_open"),
          Exact.sumMoney(when(col("o_orderstatus") === "F", col("o_totalprice"))
            .otherwise(0.0)).as("finished_total"),
          (sum(when(col("o_orderpriority") === "1-URGENT", 1).otherwise(0))
            / count(lit(1)).cast("double")).as("urgent_ratio"))
    }),

    // Distribution windows: per-segment quartiles + percent rank over a
    // tie-free ordering. Partitioned by segment — an unpartitioned
    // global sort funnels everything through one reducer at scale.
    // CAVEAT (SCALE.md): with only 5 segments each partition still
    // sorts through one reducer; q52 is the scale-safe two-phase twin.
    "q38_distribution_windows" -> ((s, dir) => {
      val w = Window.partitionBy(col("c_mktsegment"))
        .orderBy(col("c_acctbal").asc, col("c_custkey").asc)
      customer(s, dir).select(
        col("c_custkey"), col("c_mktsegment"), col("c_acctbal"),
        ntile(4).over(w).as("balance_quartile"),
        percent_rank().over(w).as("balance_pct_rank"))
    }),

    // The scale-safe twin of q38: EXACT same output (it shares q38's
    // oracle SQL) but ranks computed two-phase — sketch-placed range
    // buckets, tiny cumulative-offset frame, per-(segment,bucket)
    // window — so parallelism is segments x buckets instead of one
    // reducer per low-cardinality segment (ops.Quantiles).
    "q52_scalable_windows" -> ((s, dir) =>
      graft.ops.Quantiles.distribution(
        customer(s, dir).select(
          col("c_custkey"), col("c_mktsegment"), col("c_acctbal")),
        segCol = "c_mktsegment", valCol = "c_acctbal",
        tieCol = "c_custkey")
        .select(col("c_custkey"), col("c_mktsegment"), col("c_acctbal"),
          col("balance_quartile"), col("balance_pct_rank"))),

    // TF-IDF keyword extraction (log-free surrogate, top-5 per doc).
    "q36_tfidf_keywords" -> ((s, dir) =>
      TF.topKeywords(documents(s, dir), "doc_id", "text", k = 5)),

    // Sliding-window document chunking (training-data segmentation):
    // 64-token windows every 48 tokens, tail-covering.
    "q35_chunking" -> ((s, dir) => {
      documents(s, dir).select(col("doc_id"),
        posexplode(TF.chunks(col("text"), chunkSize = 64, stride = 48)))
        .withColumnRenamed("pos", "chunk_idx")
        .withColumnRenamed("col", "chunk")
    }),

    // Corpus profiling with a mergeable quantile sketch. At accuracy
    // 10000 the GK sketch is rank-exact for these group sizes, so the
    // oracle can pin the convention explicitly (the ceil(p*n)-th
    // smallest value); at 100 TB the same plan degrades gracefully to
    // a bounded-memory approximation. Distinct-text counting hashes to
    // a 32-hex fingerprint first so only digests shuffle, never full
    // documents. (HLL++ approx_count_distinct stays covered by
    // ApproxSpec — sketch internals can't hash-match another engine.)
    "q29_corpus_profile" -> ((s, dir) => {
      documents(s, dir).groupBy(col("lang")).agg(
        count(lit(1)).as("n_docs"),
        count_distinct(md5(col("text"))).as("n_distinct_texts"),
        percentile_approx(col("n_chars"), lit(0.5), lit(10000)).as("chars_p50"),
        percentile_approx(col("n_chars"), lit(0.9), lit(10000)).as("chars_p90"),
        (sum(col("n_chars")) / count(lit(1))).as("avg_chars"))
    }),

    // P10/F5/F7-class + semi-structured: coalesce, NULL sentinel
    // handling, casts, JSON payload extraction from the props column.
    "q27_cleanse_events" -> ((s, dir) => {
      events(s, dir)
        .withColumn("k_val", get_json_object(col("props"), "$.k").cast("int"))
        .withColumn("etype",
          coalesce(nullif(col("event_type"), lit("error")), lit("unknown")))
        .groupBy(col("etype"))
        .agg(count(lit(1)).as("n"),
          Exact.sumIntegral(col("k_val").cast("double")).as("sum_k"),
          max(col("value")).as("max_value"))
    }),

    // Engine-portable deterministic sampling: md5-threshold keep
    // decision (identical row set in any hex-md5 engine), then a
    // deterministic aggregate over the kept rows. The xxhash64-keyed
    // variant (ops.Sampling.hashSample) is the in-engine fast path;
    // this one exists so a sample drawn here is reproducible elsewhere.
    "q40_deterministic_sample" -> ((s, dir) => {
      graft.ops.Sampling.md5Sample(orders(s, dir), "o_orderkey", "2")
        .groupBy(col("o_orderpriority"))
        .agg(count(lit(1)).as("n_orders"),
          Exact.sumMoney(col("o_totalprice")).as("sum_total"))
    }),

    // Two-phase salted aggregation (skew remedy): partial agg on
    // (key, salt) spreads a hot key over 8 reducers, final agg on key
    // merges partials. Oracle is the plain one-phase GROUP BY —
    // proving the decomposition is exact.
    "q41_salted_agg" -> ((s, dir) => {
      graft.ops.Skew.saltedAgg(lineitem(s, dir), "l_suppkey", buckets = 8,
        partials = Seq(
          "n_p" -> count(lit(1)),
          "qty_p" -> sum(col("l_quantity")),
          "price_c_p" -> sum(Exact.cents(col("l_extendedprice")))),
        finals = Seq(
          "n_items" -> sum(col("n_p")),
          "sum_qty" -> sum(col("qty_p")),
          "sum_price" -> (sum(col("price_c_p")) / lit(100.0))))
    }),

    // Window analytics (beyond the reference, which has none — §2.6):
    // rank within partition, lag delta, running sum.
    "q28_window_analytics" -> ((s, dir) => {
      val byCust = Window.partitionBy(col("o_custkey"))
        .orderBy(col("o_orderdate"), col("o_orderkey"))
      orders(s, dir)
        .withColumn("order_rank", row_number().over(byCust))
        .withColumn("prev_gap_days",
          datediff(col("o_orderdate"), lag(col("o_orderdate"), 1).over(byCust)))
        .withColumn("running_spend",
          (sum(round(col("o_totalprice") * 100))
            .over(byCust.rowsBetween(Window.unboundedPreceding, 0)) / 100.0))
        .select(col("o_orderkey"), col("o_custkey"), col("order_rank"),
          col("prev_gap_days"), col("running_spend"))
    }),

    // Corpus bigram LM quality score (graft.text.NgramLm): the
    // CCNet-style in-distribution filter as exact integer arithmetic —
    // ratio of corpus-count sums instead of a log-prob mean, so the
    // score is bit-deterministic and fully oracle-gated.
    "q70_lm_quality" -> ((s, dir) =>
      graft.text.NgramLm.bigramScore(documents(s, dir), "doc_id", "text")),

    // Token-budget mixture build (graft.ops.Mixture): per-domain
    // md5-order document prefixes until each domain's token budget is
    // met. Spark runs the two-phase segmented prefix sum (no
    // one-reducer-per-domain window); the oracle replays the naive
    // window form — results are bit-identical.
    "q71_token_mixture" -> ((s, dir) =>
      graft.ops.Mixture.tokenBudget(
        documents(s, dir)
          .withColumn("n_tokens", TF.tokenCount(col("text"))),
        "doc_id", "source", "n_tokens", mixtureBudgets)),

    // JSONL round-trip (graft.sources.Sources): write the documents
    // table as JSON-lines, read it back under the writer's schema, and
    // hash-compare against the original rows — the lossless-interchange
    // contract LLM pipelines assume of their JSONL corpora. The write
    // runs once per (JVM, source dir) — an artifact, like the pair
    // graph — so constructing the query's plan (Explain, plan audits,
    // bench reruns) is not a corpus rewrite each time; the bench's
    // first timed run pays the cold write, its min reflects the
    // steady-state read.
    "q72_jsonl_roundtrip" -> ((s, dir) => {
      val docs = documents(s, dir)
      graft.sources.Sources.readJson(s, jsonlExport(s, dir), Some(docs.schema))
    }),

    // Span-level decontamination (Contamination.removeSpans): q44's
    // surgical sibling — scrub only the probe-matching shingle spans,
    // keep the document's uncontaminated mass. The oracle rebuilds
    // every clean_text in DuckDB, so the positional cover arithmetic
    // and the token-level rewrite are hash-gated end to end.
    "q73_span_removal" -> ((s, dir) => {
      val docs = documents(s, dir)
      graft.text.Contamination.removeSpans(
        docs.filter(col("doc_id") % 97 =!= 0),
        docs.filter(col("doc_id") % 97 === 0),
        "doc_id", "text", shingleK = 5)
    }),

    // Supply-aware epoch mixture (Mixture.tokenBudgetEpochs): budgets
    // above a domain's token supply upsample it — full epochs for all
    // docs, one extra for the md5-order remainder prefix. n_epochs is
    // the manifest-recorded repeat factor; no duplicate rows
    // materialize.
    "q74_epoch_mixture" -> ((s, dir) =>
      graft.ops.Mixture.tokenBudgetEpochs(
        documents(s, dir)
          .withColumn("n_tokens", TF.tokenCount(col("text"))),
        "doc_id", "source", "n_tokens", epochBudgets)),

    // Int8 embedding quantization (sim.Quantize): the 4x memory lever
    // for corpus-scale embedding stores, exploded to scalar rows so
    // the oracle hash-gates every quantized value and reconstruction
    // error exactly.
    "q75_quantize_int8" -> ((s, dir) =>
      graft.sim.Quantize.int8Rows(embeddings(s, dir), "vec_id", "embedding")),

    // Exact top-k over the QUANTIZED corpus: all-integer dot products
    // rescaled per candidate — the int8 kernel arithmetic. Fully
    // deterministic (q75's per-element rounding feeds exact integer
    // dots and norms), so the oracle replays the whole ranking in
    // DuckDB; recall vs the FLOAT ranking stays a RECALL.md row
    // (a different property — quantization loss, not correctness).
    "q76_ann_int8" -> ((s, dir) => {
      val emb = embeddings(s, dir)
      graft.sim.Quantize.bruteForceTopKInt8(
        emb, emb.filter(col("vec_id") < 8), k = 5)
    }),

    // PERSISTED IVF index (Ann.buildIvfIndex): the build-once,
    // query-many ANN shape — centroids + list_id-partitioned inverted
    // lists as catalog tables, corpus assignment paid once per index,
    // not per query batch. Bit-identical to q42's inline form, so it
    // carries the SAME oracle.
    "q77_ann_ivf_index" -> ((s, dir) => {
      val (cat, prefix) = ivfIndexTable(s, dir)
      graft.sim.Ann.ivfTopKFromCatalog(
        embeddings(s, dir).filter(col("vec_id") < 8), cat,
        k = 5, nProbe = 4, prefix = prefix)
    }),

    // Incremental index maintenance: the index is BUILT on the first
    // slice of the corpus and the rest arrives as an appended delta —
    // assignment is paid per-batch, never over the accumulated index.
    // Assignment depends only on the centroids (held fixed by the
    // base slice, which contains the first-16 seed vectors), so the
    // appended index answers queries bit-identically to the one-shot
    // build — it carries q42/q77's oracle unchanged.
    "q78_ann_ivf_append" -> ((s, dir) => {
      val (cat, prefix) = ivfAppendedIndexTable(s, dir)
      graft.sim.Ann.ivfTopKFromCatalog(
        embeddings(s, dir).filter(col("vec_id") < 8), cat,
        k = 5, nProbe = 4, prefix = prefix)
    }),

    // Temperature-flattened mixture: budgets DERIVED from corpus
    // supply (∝ √supply, integer-exact) instead of hand-declared —
    // small domains upweighted relative to their raw share. At the
    // sf0.01 gate scale the declared total pushes src8's derived
    // budget past its supply (the whole domain is kept) while larger
    // domains contribute an md5-order prefix — both consumption
    // branches under one gate (MixtureSpec pins both on a controlled
    // frame as well).
    "q79_temperature_mixture" -> ((s, dir) => {
      val docs = documents(s, dir)
        .withColumn("n_tokens", TF.tokenCount(col("text")))
      graft.ops.Mixture.tokenBudgetFrom(docs, "doc_id", "source", "n_tokens",
        graft.ops.Mixture.temperatureBudgets(docs, "source", "n_tokens",
          totalBudget = temperatureTotalBudget))
    }),

    // Cross-document repeated-span scrub (CrossDoc.removeSharedSpans):
    // substring-level dedup — every 5-shingle carried by ≥2 distinct
    // docs survives only in its lowest-id carrier. q59 measures this
    // signal; q80 acts on it.
    "q80_crossdoc_scrub" -> ((s, dir) =>
      graft.text.CrossDoc.removeSharedSpans(
        documents(s, dir), "doc_id", "text", shingleK = 5)),

    // Exact LINE-level cross-doc dedup (CCNet-style): lines carried
    // verbatim by ≥2 documents survive only in the lowest-id carrier —
    // whole-line boilerplate at a fraction of the shingle machinery's
    // cost (no tokenize, no positional cover).
    "q95_shared_line_dedup" -> ((s, dir) =>
      graft.text.CrossDoc.removeSharedLines(
        documents(s, dir), "doc_id", "text")),

    // Leakage-safe train/val/test split: the whole near-dup COMPONENT
    // takes one md5 coin flip, so duplicate families never straddle
    // the eval cut (the split that keeps eval honest). Components come
    // off the persisted pair graph — no similarity join in this plan.
    "q81_leakage_split" -> ((s, dir) => {
      val (cat, table) = pairGraphTable(s, dir, threshold = 0.4)
      val comp = graft.dedup.Curation.componentsFromCatalog(s, cat, table)
      graft.ops.Splits.leakageSafeSplit(documents(s, dir), "doc_id",
          comp, "id", "component", splitFractions)
        .select(col("doc_id"), col("grp"), col("split"))
    }),

    // Cross-source duplication matrix — which feeds re-crawl each
    // other — read off the same persisted pair graph: id-only pairs
    // pick up their two source labels and aggregate to ≤|sources|²
    // rows.
    "q82_source_overlap" -> ((s, dir) => {
      val (cat, table) = pairGraphTable(s, dir, threshold = 0.4)
      graft.dedup.Curation.sourceOverlapFromCatalog(
        documents(s, dir), "doc_id", "source", cat, table)
    }),

    // Metadata-filtered exact ANN: candidates restricted to English
    // documents BEFORE any similarity arithmetic (pre-filter — exact
    // by construction and s·|corpus| cheaper; post-filtering a global
    // top-k under-returns). Queries stay unfiltered probes.
    "q83_filtered_ann" -> ((s, dir) =>
      graft.sim.Ann.filteredBruteForceTopK(
        embeddings(s, dir),
        documents(s, dir).filter(col("lang") === "en")
          .select(col("doc_id").as("vec_id")),
        embeddings(s, dir).filter(col("vec_id") < 8), k = 5)),

    // Bloom-gated incremental ingest: which batch rows are NEW against
    // the corpus, by content fingerprint — the bloom (Spark's own
    // BloomFilterAggregate/MightContain runtime-filter expressions,
    // persisted once per corpus version like the pair graph) narrows
    // the probe set; an exact confirm join makes the OUTPUT exact, so
    // the whole gate carries a plain anti-join oracle. Zero corpus
    // shuffles: the corpus is scanned (bloom build, amortized) and
    // scanned (broadcast semi-join) — never exchanged.
    "q84_bloom_gate" -> ((s, dir) => {
      val (cat, table) = bloomIndexTable(s, dir)
      val corpus = documents(s, dir)
        .withColumn("fp", TF.fingerprint(col("text")))
      val batch = documents(s, dir).filter(col("doc_id") < 100)
        .select(col("doc_id"), col("text"))
        .unionByName(documents(s, dir).filter(col("doc_id") >= 400)
          .select((col("doc_id") + 10000).as("doc_id"),
            concat(col("text"), lit(" fresh")).as("text")))
        .withColumn("fp", TF.fingerprint(col("text")))
      graft.ops.BloomGate.newRowsFromCatalog(batch, corpus, "fp", cat, table)
        .select(col("doc_id"), col("fp"))
    }),

    // Heavy-hitter tokens — vocabulary-head / stopword discovery, and
    // the diagnosis step that feeds q41's salted aggregation. The
    // Misra-Gries summary bounds the exchange to partitions×cap rows
    // whatever the token cardinality; the exact confirm pass makes
    // the output a plain GROUP BY ... HAVING, which is the oracle.
    // Threshold = 0.2% of the token stream, floor-divided identically
    // on both engines.
    "q85_heavy_hitters" -> ((s, dir) => {
      val toks = documents(s, dir)
        .select(explode(split(col("text"), " ")).as("tok"))
        .filter(col("tok") =!= "")
      graft.ops.HeavyHitters.frequentItemsRelative(
        toks, col("tok"), "tok", denom = 500L)
    }),

    // Differential hot/cold join — q41's sibling for joins: the
    // MG-detected hot key (10% of orders pooled onto k=0, declared
    // identically in both engines) joins through a broadcast of its
    // dim slice and never enters an exchange; cold keys shuffle
    // without their straggler. The split is semantics-neutral, so the
    // oracle is the plain join.
    "q86_hotcold_join" -> ((s, dir) => {
      import s.implicits._
      val big = orders(s, dir).select(
        when(col("o_custkey") % 10 === 0, lit(0L))
          .otherwise(col("o_custkey")).as("k"),
        col("o_orderkey"), col("o_totalprice"))
      val dim = customer(s, dir).filter(col("c_custkey") % 10 =!= 0)
        .select(col("c_custkey").as("k"), col("c_name"))
        .unionByName(Seq((0L, "pooled")).toDF("k", "c_name"))
      graft.ops.Skew.hotColdJoin(big, dim, "k", "inner", hotDenom = 50L)
    }),

    // Deterministic corpus shuffle — the training-order permutation
    // and round-robin shard deal, as an exact global rank. The oracle
    // runs the single-window form this operator exists to avoid; the
    // Spark plan ranks nBuckets hash ranges in parallel and never
    // funnels the corpus through one task (GlobalOrderSpec pins the
    // absence of a SinglePartition exchange).
    "q87_corpus_shuffle" -> ((s, dir) => {
      val d = documents(s, dir).select(col("doc_id"))
      graft.ops.GlobalOrder
        .deterministicShuffle(d, "doc_id", seed = "shuf42", nBuckets = 16)
        .select(col("doc_id"), col("pos"),
          pmod(col("pos"), lit(8L)).as("shard"))
    }),

    // The standard training layout end-to-end: shuffle (q87's seeded
    // permutation) → round-robin shard deal → per-shard sequence
    // packing, composed so concatChunk's id IS the shuffled position
    // (its internal id%nShards becomes the deal, its within-shard
    // order the shuffled order). The doc_id traceback join is
    // elective — drop it and the plan is shuffle+pack only.
    "q88_shuffled_pack" -> ((s, dir) => {
      val shuffled = graft.ops.GlobalOrder.deterministicShuffle(
        documents(s, dir).select(col("doc_id"), col("text")),
        "doc_id", seed = "pack7", nBuckets = 16)
      val packed = graft.ops.Packing.concatChunk(
        shuffled, "pos", TF.tokenCount(col("text")),
        seqLen = 512, nShards = 4)
      shuffled.select(col("doc_id"), col("pos").as("p"))
        .join(packed, col("p") === col("pos")).drop("p")
        .select(col("doc_id"), col("pos"), col("shard"), col("n_tokens"),
          col("start"), col("seq_id"), col("offset_in_seq"))
    }),

    // Incremental component maintenance — the daily-ingest closer:
    // the standing assignment (a persisted artifact like q47's pair
    // graph) is folded together with the batch's delta pairs — found
    // off the PERSISTED prefix index (q90's path), the way production
    // runs it — by contracting endpoints to their current component
    // and running CC on that delta-scale graph only. The standing
    // frame is scanned, never shuffled; q64 keeps the self-contained
    // rebuild declaration. Shares q47's recursive-CTE oracle over the
    // union corpus: incremental ≡ from-scratch.
    "q89_incremental_components" -> ((s, dir) => {
      val (ccat, ctable) = baseComponentsTable(s, dir)
      val (pcat, ptable) = prefixIndexTable(s, dir)
      val sets = documents(s, dir)
        .select(col("doc_id"), Dedup.charNgrams(col("text"), 5).as("set"))
      val delta = Dedup.incrementalPairsFromCatalog(
        sets.filter(col("doc_id") % 10 =!= 0),
        sets.filter(col("doc_id") % 10 === 0),
        "doc_id", pcat, ptable)
      Dedup.incrementalComponents(
        ccat.read(s, ctable), delta.select("id_a", "id_b"))
    }),

    // The persisted prefix index delivering the promise q64's scaladoc
    // makes: per-batch pair discovery reads the corpus's prefix rows
    // and frozen token order from the catalog — the batch pays its own
    // prefix mass, never a corpus re-tokenize/re-rank — and the output
    // is exactly q64's (shared oracle). The corpus frame here supplies
    // only verification sets.
    "q90_indexed_pairs" -> ((s, dir) => {
      val (cat, table) = prefixIndexTable(s, dir)
      val sets = documents(s, dir)
        .select(col("doc_id"), Dedup.charNgrams(col("text"), 5).as("set"))
      Dedup.incrementalPairsFromCatalog(
        sets.filter(col("doc_id") % 10 =!= 0),
        sets.filter(col("doc_id") % 10 === 0),
        "doc_id", cat, table)
    }),

    // Canonical-survivor selection: per dup family keep the BEST copy
    // (most tokens, min-id tie), not the min-id one — the curation
    // policy knob. Components come from the persisted pair graph; the
    // per-family argmax is the bounded-heap top_k (map-side pruned to
    // one row per family per partition), never a window over members.
    // Negated-id struct field turns the heap's single descending
    // order into (n_tokens DESC, id ASC).
    // Asymmetric containment gate (Dedup.containmentPairs): which
    // BATCH docs (doc_id < 50 — one tick's arrivals under monotone
    // ids) are >= 4/5 n-gram-contained in
    // some corpus doc — the excerpt/quote detector symmetric Jaccard
    // structurally misses (a paragraph quoted in a long page:
    // Jaccard tiny, containment ~1). Rational threshold, one-sided
    // prefix filter over the corpus gram index, exact verify; the
    // ingest-shaped deployment the operator's cost note mandates.
    "q207_containment" -> ((s, dir) => {
      val sets = documents(s, dir).where(col("text").isNotNull)
        .select(col("doc_id"),
          graft.dedup.Dedup.charNgrams(col("text"), 5).as("set"))
      graft.dedup.Dedup.containmentPairs(
        sets.filter(col("doc_id") < 50), sets,
        "doc_id", tNum = 4, tDen = 5)
    }),

    // The corpus-vs-corpus containment BACKFILL q207's cost note
    // forbade the exact gate (Dedup.containmentPairsSketch): every
    // directed >= 3/5-contained pair across the whole corpus, with
    // each doc contributing only its min(exact prefix, 32) RAREST
    // grams as candidate keys — constant candidate mass per doc where
    // the exact form pays (1-t)·|A| (measured 178 s at sf0.1), exact
    // array_intersect verify on survivors. The q92→q188 pattern
    // applied to the excerpt gate; oracle replays the capped
    // df-rarest prefix verbatim, so the compare is bit-exact, not
    // recall-probabilistic.
    "q208_containment_corpus" -> ((s, dir) => {
      val sets = documents(s, dir).where(col("text").isNotNull)
        .select(col("doc_id"),
          graft.dedup.Dedup.charNgrams(col("text"), 5).as("set"))
      graft.dedup.Dedup.containmentPairsSketch(
        sets, sets, "doc_id", tNum = 3, tDen = 5, sketchK = 32)
    }),

    // The curation ACTION the containment detectors feed
    // (Dedup.excerptDedup): drop every doc >= 3/5-contained in a
    // LARGER doc — keep the host page, scrub the quote/excerpt the
    // Jaccard gates structurally keep (tiny symmetric overlap). Size
    // ties keep the smaller id, so identical-set pairs lose exactly
    // one member. Survivors among the textual corpus.
    "q209_excerpt_scrub" -> ((s, dir) => {
      val sets = documents(s, dir).where(col("text").isNotNull)
        .select(col("doc_id"),
          graft.dedup.Dedup.charNgrams(col("text"), 5).as("set"))
      graft.dedup.Dedup.excerptDedup(sets, "doc_id", tNum = 3, tDen = 5)
        .select(col("doc_id"))
    }),

    // The containment detector at WORD granularity — the vocabulary
    // regime the char-gram form never meets: an open-ended
    // word-shingle space whose df distribution long-tails at 1,
    // exactly the shape the two-phase dictionary rank exists for (a
    // df-keyed bucket split collapses when ~all dfs tie; the
    // sketch key's code-point refinement keeps the buckets even).
    // Same capped df-rarest prefix (k=32), same rational threshold;
    // sets are distinct 3-word shingles of the whitespace tokens.
    "q210_containment_words" -> ((s, dir) => {
      val sets = documents(s, dir).where(col("text").isNotNull)
        .select(col("doc_id"),
          graft.dedup.Dedup.shingles(col("text"), 3).as("set"))
      graft.dedup.Dedup.containmentPairsSketch(
        sets, sets, "doc_id", tNum = 3, tDen = 5, sketchK = 32)
    }),

    // Dedup ROI forecast: the token mass keep-best-copy dedup (q91)
    // would remove, as one summary row — families' total tokens minus
    // their best member's, over the corpus total. The number that
    // decides whether the dedup pass is WORTH its cluster hours
    // before anyone schedules it.
    "q206_dedup_savings" -> ((s, dir) => {
      val (cat, table) = pairGraphTable(s, dir, threshold = 0.4)
      val comps = graft.dedup.Curation.componentsFromCatalog(s, cat, table)
      val fam = comps.join(
          documents(s, dir).select(col("doc_id").as("id"),
            TF.tokenCount(col("text")).as("n_tokens")), Seq("id"))
        .groupBy(col("component"))
        .agg(sum(col("n_tokens")).as("ft"), max(col("n_tokens")).as("kt"),
          count(lit(1)).as("m"))
        .agg(count(lit(1)).as("n_families"),
          coalesce(sum(col("m")), lit(0L)).as("n_dup_docs"),
          coalesce(sum(col("ft") - col("kt")), lit(0L))
            .as("tokens_removable"))
      documents(s, dir).where(col("text").isNotNull)
        .agg(count(lit(1)).as("n_docs"),
          sum(TF.tokenCount(col("text")).cast("long")).as("tokens_total"))
        .crossJoin(broadcast(fam))
        .select(col("n_docs"), col("n_families"), col("n_dup_docs"),
          col("tokens_total"), col("tokens_removable"),
          when(col("tokens_total") > 0,
            expr("(tokens_removable * 1000000) DIV tokens_total"))
            .as("savings_fp"))
    }),

    "q91_canonical_docs" -> ((s, dir) => {
      val (cat, table) = pairGraphTable(s, dir, threshold = 0.4)
      val comps = graft.dedup.Curation.componentsFromCatalog(s, cat, table)
      comps.join(
          documents(s, dir).select(col("doc_id").as("id"),
            TF.tokenCount(col("text")).as("n_tokens")),
          Seq("id"))
        .groupBy(col("component"))
        .agg(graft.functions.aggs.top_k(
            struct(col("n_tokens"), (-col("id")).as("nid")), 1).as("top"),
          count(lit(1)).as("n_members"))
        .select(col("component"),
          (-col("top")(0)("nid")).as("canonical_id"),
          col("top")(0)("n_tokens").as("n_tokens"),
          col("n_members"))
    }),
  )

  /** q84's persisted corpus bloom. */
  private[graft] def bloomIndexTable(s: SparkSession, dir: String,
                                     force: Boolean = false): (graft.catalog.ParquetCatalog, String) =
    Artifacts.table("bloom_fp_" + Artifacts.key(dir), force) { (cat, table) =>
      graft.ops.BloomGate.buildBloomIndex(
        documents(s, dir).withColumn("fp", TF.fingerprint(col("text"))),
        "fp", cat, table, expectedItems = 65536L)
    }

  /** q81's split declaration — one constant consumed by both the
    * Spark query and its oracle so the cut literals cannot drift. */
  private val splitFractions =
    Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1)

  /** q79's declared total budget — one constant consumed by both the
    * Spark query and its oracle, so the derived budgets cannot
    * drift. */
  private val temperatureTotalBudget = 26000L

  /** q96/q97's persisted PQ index (sim.Pq.buildPqIndex). */
  private[graft] def pqIndexTable(s: SparkSession, dir: String,
                                  force: Boolean = false): (graft.catalog.ParquetCatalog, String) =
    Artifacts.table("pq_" + Artifacts.key(dir), force) { (cat, prefix) =>
      graft.sim.Pq.buildPqIndex(embeddings(s, dir), cat, prefix,
        m = 16, k = 64, dim = 64, iters = 2)
    }

  /** q98's build-then-append PQ index: codebooks trained on the 90%
    * seed slice, the held-out 10% encoded against the FROZEN
    * codebooks and appended (Pq.appendToPqIndex). */
  private[graft] def pqAppendedIndexTable(s: SparkSession, dir: String,
                                          force: Boolean = false): (graft.catalog.ParquetCatalog, String) =
    Artifacts.table("pqa_" + Artifacts.key(dir), force) { (cat, prefix) =>
      val e = embeddings(s, dir)
      graft.sim.Pq.buildPqIndex(e.filter(col("vec_id") % 10 =!= 0), cat,
        prefix, m = 16, k = 64, dim = 64, iters = 2)
      graft.sim.Pq.appendToPqIndex(e.filter(col("vec_id") % 10 === 0), cat,
        prefix, m = 16, dim = 64)
    }

  /** q107's persisted inverted index. */
  private[graft] def invertedIndexTable(s: SparkSession, dir: String,
                                        force: Boolean = false): (graft.catalog.ParquetCatalog, String) =
    Artifacts.table("inv_" + Artifacts.key(dir), force) { (cat, prefix) =>
      graft.text.Retrieval.buildIndex(documents(s, dir), "doc_id", "text",
        cat, prefix, nBuckets = 64)
    }

  /** q77's persisted IVF index. */
  private[graft] def ivfIndexTable(s: SparkSession, dir: String,
                                   force: Boolean = false): (graft.catalog.ParquetCatalog, String) =
    Artifacts.table("ivf_" + Artifacts.key(dir), force) { (cat, prefix) =>
      graft.sim.Ann.buildIvfIndex(embeddings(s, dir), cat, prefix,
        nCentroids = 16)
    }

  /** q78's build-then-append IVF index. A rebuild is idempotent:
    * `buildIvfIndex` overwrites the lists, discarding any partial
    * append before it is replayed. */
  private[graft] def ivfAppendedIndexTable(s: SparkSession, dir: String,
                                           force: Boolean = false): (graft.catalog.ParquetCatalog, String) =
    Artifacts.table("ivfa_" + Artifacts.key(dir), force) { (cat, prefix) =>
      val e = embeddings(s, dir)
      // the base slice keeps vec_ids 0..15, so its default centroids
      // equal the full corpus' first-16 seed — the oracle's quantizer
      graft.sim.Ann.buildIvfIndex(e.filter(col("vec_id") < 100), cat,
        prefix, nCentroids = 16)
      graft.sim.Ann.appendToIvfIndex(e.filter(col("vec_id") >= 100), cat, prefix)
    }

  /** q74's declared budgets — src2 upsamples (~2.7 supplies), src5
    * lands exactly where its remainder prefix ends mid-domain, src9
    * is subset-only, src11 is a sliver; one list for query + oracle. */
  private val epochBudgets: Map[String, Long] =
    Map("src2" -> 3500L, "src5" -> 2500L, "src9" -> 700L, "src11" -> 150L)

  /** q71's declared mixture: one budget list consumed by both the
    * Spark query and its oracle, so the kept sets cannot drift. */
  private val mixtureBudgets: Map[String, Long] =
    Map("src0" -> 400L, "src1" -> 250L, "src7" -> 600L, "src13" -> 100L)

  /** q72's JSONL dump of the documents table, written once. */
  private def jsonlExport(s: SparkSession, dir: String): String = {
    val name = "jsonl_" + Artifacts.key(dir)
    Artifacts.memo(name)(
      graft.sources.Sources.writeJson(documents(s, dir), Artifacts.path(name)))
    Artifacts.path(name)
  }

  /** q167's ORC dump of the documents table, exposed so Bench can time
    * the export as an explicit `q167_build` row. */
  private[graft] def orcExport(s: SparkSession, dir: String,
                               force: Boolean = false): String = {
    val name = "orc_" + Artifacts.key(dir)
    Artifacts.memo(name, force)(
      graft.sources.Sources.writeOrc(documents(s, dir), Artifacts.path(name)))
    Artifacts.path(name)
  }

  /** q176's two schema epochs: even doc_ids written under the EARLY
    * 3-column schema, odd under the full 5-column one. */
  private[graft] def schemaEpochs(s: SparkSession, dir: String): Seq[String] = {
    val name = "epochs_" + Artifacts.key(dir)
    val (e1, e2) = (Artifacts.path(name) + "/e1", Artifacts.path(name) + "/e2")
    Artifacts.memo(name) {
      val docs = documents(s, dir)
      docs.filter(col("doc_id") % 2 === 0)
        .select(col("doc_id"), col("text"), col("lang"))
        .write.mode("overwrite").parquet(e1)
      docs.filter(col("doc_id") % 2 =!= 0)
        .write.mode("overwrite").parquet(e2)
    }
    Seq(e1, e2)
  }

  /** q171's bucketed orders/customer tables: the layout is the
    * artifact; the query's claim is that every later join on the
    * bucket key runs exchange-free. Catalog table names must be
    * identifiers, so the dir is folded to a lowercase tag. Stays
    * outside [[Artifacts.memo]]: the artifact is a registration in the
    * session catalog, which a marker file cannot vouch for, so both
    * tables are checked there. */
  private[graft] def bucketedTables(s: SparkSession, dir: String,
                                    force: Boolean = false): (String, String) = {
    val tag = dir.replaceAll("[^A-Za-z0-9]", "_").toLowerCase
    val (ot, ct) = (s"bkt_orders_$tag", s"bkt_customer_$tag")
    if (force || !Seq(ot, ct).forall(graft.catalog.Bucketed.exists(s, _))) {
      graft.catalog.Bucketed.write(orders(s, dir), ot,
        Artifacts.path(ot), "o_custkey", buckets = 8)
      graft.catalog.Bucketed.write(customer(s, dir), ct,
        Artifacts.path(ct), "c_custkey", buckets = 8)
    }
    (ot, ct)
  }

  /** Shared gold-style fact: lineitem ⋈ orders ⋈ customer with derived
    * calendar attributes (reference fact build, gold.py:256-330). */
  private def factBase(s: SparkSession, dir: String): DataFrame = {
    val li = cleansedLineitem(s, dir)
    val o = orders(s, dir)
    val c = customer(s, dir)
    li.join(o, li("l_orderkey") === o("o_orderkey"), "inner")
      .join(c, o("o_custkey") === c("c_custkey"), "inner")
      .withColumn("year_o", year(col("o_orderdate")))
      .withColumn("month_o", month(col("o_orderdate")))
  }

  // ----------------------------------------------------------------- oracle

  private val discPrice = "(l_extendedprice*(1-l_discount))"
  private val charge    = "(l_extendedprice*(1-l_discount)*(1+l_tax))"

  /** Candidate + verify tail shared by every containment oracle
    * (q208/q209/q210): expects upstream CTEs `g(doc_id, ng)` — the
    * DISTINCT gram set — and `counts(doc_id, sz)`. Replays the
    * capped df-rarest prefix verbatim (row_number over (df ASC, ng
    * ASC) — a total order per doc since grams are distinct — cut at
    * least(exact prefix, cap)), candidates from prefix-vs-full-gram
    * index, exact intersection counts on candidates only. Factored
    * so no containment oracle can drift from the others' candidate
    * rule. */
  private def containmentTailCtes(tNum: Int, tDen: Int, cap: Int): String =
    s"""dfs AS (SELECT ng, CAST(count(*) AS BIGINT) AS df
       |  FROM g GROUP BY 1),
       |pref AS (SELECT doc_id, ng FROM (
       |  SELECT gg.doc_id, gg.ng, c.sz,
       |    row_number() OVER (PARTITION BY gg.doc_id
       |      ORDER BY d.df ASC, gg.ng ASC) AS rn
       |  FROM g gg JOIN dfs d USING (ng) JOIN counts c USING (doc_id))
       |  WHERE rn <= least(sz - (sz * $tNum + ${tDen - 1}) // $tDen + 1, $cap)),
       |cand AS (SELECT DISTINCT p.doc_id AS inner_id, o.doc_id AS outer_id
       |  FROM pref p JOIN g o ON o.ng = p.ng AND o.doc_id <> p.doc_id),
       |inter AS (SELECT cd.inner_id, cd.outer_id,
       |  CAST(count(*) AS BIGINT) AS ovl
       |  FROM cand cd JOIN g a ON a.doc_id = cd.inner_id
       |  JOIN g b ON b.doc_id = cd.outer_id AND b.ng = a.ng
       |  GROUP BY 1, 2)""".stripMargin

  /** The q208/q209 shared replay: char-5-gram CTEs + the shared
    * containment tail at t = 3/5, cap 32. */
  private val containmentCorpusCtes =
    """norm AS (SELECT doc_id,
      |  regexp_replace(lower(text), '\s+', ' ', 'g') AS t
      |  FROM documents WHERE text IS NOT NULL),
      |idx AS (SELECT doc_id, t,
      |  unnest(range(1, greatest(length(t)-4, 1)+1)) AS i FROM norm),
      |g AS (SELECT DISTINCT doc_id,
      |  CASE WHEN length(t) <= 5 THEN t
      |       ELSE substring(t, CAST(i AS INTEGER), 5) END AS ng FROM idx),
      |counts AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS sz
      |  FROM g GROUP BY 1),
      |""".stripMargin + containmentTailCtes(3, 5, 32)

  /** q210's head: 3-word shingles of the whitespace token array
    * (q59's shingle CTE pattern — fewer than 3 tokens yield one
    * all-tokens shingle, mirroring WordShingles' short-doc rule),
    * feeding the same containment tail as q208/q209. */
  private def containmentWordCtes =
    s"""toks AS (SELECT doc_id, ${TF.sql.tokens("text")} AS T
       |  FROM documents WHERE text IS NOT NULL),
       |base AS (SELECT doc_id, T, len(T) AS m FROM toks),
       |idx AS (SELECT doc_id, T, m,
       |  unnest(range(1, greatest(m-2, 1)+1)) AS i FROM base),
       |g AS (SELECT DISTINCT doc_id,
       |  CASE WHEN m < 3 THEN array_to_string(T, ' ')
       |       ELSE array_to_string(
       |         list_slice(T, CAST(i AS INTEGER), CAST(i AS INTEGER)+2), ' ')
       |  END AS ng FROM idx),
       |counts AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS sz
       |  FROM g GROUP BY 1),
       |""".stripMargin + containmentTailCtes(3, 5, 32)

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

  /** Shared oracle fragment: the exact 5-char-ngram near-dup pair
    * CTEs over `documents` at `threshold` — the DuckDB twin of the
    * materialized pair graph ([[pairGraphTable]]). Ends with `pairs
    * (id_a, id_b)`; `norm` keeps `source` for the q82 labeling.
    * ONE definition consumed by q47/q81/q82 so pair semantics cannot
    * drift between oracles. */
  private def charPairsCte(threshold: Double): String =
    s"""norm AS (SELECT doc_id, source,
       |  regexp_replace(lower(text), '\\s+', ' ', 'g') AS t FROM documents),
       |idx AS (SELECT doc_id, t,
       |  unnest(range(1, greatest(length(t)-4, 1)+1)) AS i FROM norm),
       |g AS (SELECT DISTINCT doc_id,
       |  CASE WHEN length(t) <= 5 THEN t
       |       ELSE substring(t, CAST(i AS INTEGER), 5) END AS ng FROM idx),
       |counts AS (SELECT doc_id, count(*) AS sz FROM g GROUP BY 1),
       |inter AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS ovl
       |  FROM g a JOIN g b ON a.ng = b.ng AND a.doc_id < b.doc_id
       |  GROUP BY 1, 2),
       |pairs AS (SELECT id_a, id_b FROM inter
       |  JOIN counts ca ON ca.doc_id = id_a
       |  JOIN counts cb ON cb.doc_id = id_b
       |  WHERE CAST(ovl AS DOUBLE)/(ca.sz + cb.sz - ovl) >= $threshold)""".stripMargin

  /** [[charPairsCte]] extended with the recursive transitive closure;
    * ends with `comp (id, component)` — q47's semantics, shared with
    * the q81 split oracle. Callers open with `WITH RECURSIVE`. */
  private def componentsCte(threshold: Double): String =
    s"""${charPairsCte(threshold)},
       |edges AS (SELECT id_a AS src, id_b AS dst FROM pairs
       |  UNION SELECT id_b, id_a FROM pairs),
       |reach(id, comp) AS (
       |  SELECT src, src FROM edges
       |  UNION
       |  SELECT e.dst, r.comp FROM reach r JOIN edges e ON e.src = r.id),
       |comp AS (SELECT id, min(comp) AS component FROM reach GROUP BY id)""".stripMargin

  /** q24's all-pairs CTE restricted to pairs touching the batch —
    * shared verbatim by q64 (rebuild-every-time incremental join) and
    * q90 (the same join off the persisted prefix index): different
    * machinery, bit-identical contract. */
  private val incrementalPairsOracleSql =
    """WITH norm AS (SELECT doc_id,
      |  regexp_replace(lower(text), '\s+', ' ', 'g') AS t FROM documents),
      |idx AS (SELECT doc_id, t,
      |  unnest(range(1, greatest(length(t)-4, 1)+1)) AS i FROM norm),
      |g AS (SELECT DISTINCT doc_id,
      |  CASE WHEN length(t) <= 5 THEN t
      |       ELSE substring(t, CAST(i AS INTEGER), 5) END AS ng FROM idx),
      |counts AS (SELECT doc_id, count(*) AS sz FROM g GROUP BY 1),
      |inter AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS ovl
      |  FROM g a JOIN g b ON a.ng = b.ng AND a.doc_id < b.doc_id
      |  GROUP BY 1, 2)
      |SELECT id_a, id_b,
      |  CAST(ovl AS DOUBLE)/(ca.sz + cb.sz - ovl) AS jaccard
      |FROM inter
      |JOIN counts ca ON ca.doc_id = id_a
      |JOIN counts cb ON cb.doc_id = id_b
      |WHERE CAST(ovl AS DOUBLE)/(ca.sz + cb.sz - ovl) >= 0.4
      |  AND (id_a % 10 = 0 OR id_b % 10 = 0)""".stripMargin

  /** DuckDB twin of [[graft.functions.SimHash64]]'s token hash:
    * FNV-1a-64 over unicode codepoints + murmur3 fmix64, with unsigned
    * 64-bit arithmetic emulated in HUGEINT mod 2^64. The multiply
    * splits its left operand at 2^32 so the 128-bit intermediate never
    * overflows HUGEINT; each xor touches only low bits (both xor
    * operands are < the split width at every site — codepoints < 2^21,
    * the fmix shift term < 2^31), so it runs in BIGINT exactly. Shared
    * by every oracle that replays the token hash (q21 SimHash, q93
    * classifier). `tokHash` expects a token column named `tok` and
    * yields the UNSIGNED hash as HUGEINT in [0, 2^64). */
  private object Fnv64Sql {
    val m64 = "18446744073709551616::HUGEINT" // 2^64
    def mulmod(a: String, b: String): String =
      s"((($a) % 4294967296) * $b + ((($a) // 4294967296) * $b % 4294967296) * 4294967296) % $m64"
    def xorLow(h: String, s2: String, width: String): String =
      s"((($h) // $width) * $width + xor(CAST(($h) % $width AS BIGINT), CAST(($s2) AS BIGINT)))"
    def shr33(h: String): String = s"(($h) // 8589934592)"
    def fmix(h: String): String = {
      val a = xorLow(h, shr33(h), "2147483648")
      val b = mulmod(a, "18397679294719823053::HUGEINT") // 0xff51afd7ed558ccd
      val c = xorLow(b, shr33(b), "2147483648")
      val d = mulmod(c, "14181476777654086739::HUGEINT") // 0xc4ceb9fe1a85ec53
      xorLow(d, shr33(d), "2147483648")
    }
    // fold: h' = (h xor codepoint) * FNV_PRIME, basis-seeded via prepend
    private val fold = mulmod(xorLow("h", "cp", "2097152"), "1099511628211")
    val tokHash: String = fmix(
      "list_reduce(list_prepend(14695981039346656037::HUGEINT, " +
        "list_transform(regexp_extract_all(tok, '.'), c -> CAST(unicode(c) AS HUGEINT))), " +
        s"(h, cp) -> $fold)")
  }

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

  /** The 64 SimHash signature bits reconstruct by sign of the per-bit
    * vote sums over [[Fnv64Sql.tokHash]], exactly as the Spark
    * expression does. */
  private val simhashPairsOracleSql: String = {
    import Fnv64Sql.{m64, tokHash}
    val bits = (0 until 64).map { j =>
      val p = BigInt(1) << j
      s"CASE WHEN sum(CASE WHEN (th // $p) % 2 = 1 THEN 1 ELSE -1 END) > 0" +
        s" THEN $p::HUGEINT ELSE 0::HUGEINT END"
    }.mkString(" + ")
    // zero-token docs still carry signature 0 (the Spark side's empty
    // vote vector), hence the left join + coalesce
    s"""WITH toks AS (SELECT doc_id, unnest(${TF.sql.tokens("text")}) AS tok
       |  FROM documents WHERE text IS NOT NULL),
       |th AS (SELECT doc_id, $tokHash AS th FROM toks),
       |sh AS (SELECT doc_id, $bits AS sim_u FROM th GROUP BY doc_id),
       |s AS (SELECT d.doc_id,
       |  CAST(CASE WHEN coalesce(sim_u, 0::HUGEINT) >= 9223372036854775808::HUGEINT
       |       THEN coalesce(sim_u, 0::HUGEINT) - $m64
       |       ELSE coalesce(sim_u, 0::HUGEINT) END AS BIGINT) AS sim
       |  FROM documents d LEFT JOIN sh ON sh.doc_id = d.doc_id
       |  WHERE d.text IS NOT NULL)
       |SELECT a.doc_id AS id_a, b.doc_id AS id_b,
       |  CAST(bit_count(xor(a.sim, b.sim)) AS INTEGER) AS hamming
       |FROM s a JOIN s b ON a.doc_id < b.doc_id
       |WHERE bit_count(xor(a.sim, b.sim)) <= 3""".stripMargin
  }

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

  def oracleSql: Map[String, String] = Map(
    "q01_pricing_summary" ->
      s"""SELECT l_returnflag, l_linestatus,
         | sum(l_quantity) AS sum_qty,
         | ${Exact.sql.sumMoney("l_extendedprice")} AS sum_base_price,
         | ${Exact.sql.sumMoney(discPrice)} AS sum_disc_price,
         | ${Exact.sql.sumMoney(charge)} AS sum_charge,
         | ${Exact.sql.avgIntegral("l_quantity")} AS avg_qty,
         | ${Exact.sql.avgMoney("l_extendedprice")} AS avg_price,
         | sum(round(l_discount*10000))/10000.0/count(*) AS avg_disc,
         | count(*) AS count_order
         |FROM lineitem WHERE l_shipdate <= TIMESTAMP '1998-09-02'
         |GROUP BY l_returnflag, l_linestatus""".stripMargin,

    "q02_filter_project" ->
      """SELECT l_orderkey, l_linenumber,
        | round(l_extendedprice*l_discount*100)/100.0 AS disc_amount,
        | CAST(l_quantity AS INTEGER) AS qty_int
        |FROM lineitem WHERE l_discount >= 0.05 AND l_quantity < 25""".stripMargin,

    "q03_region_revenue" ->
      s"""SELECT r_name, count(*) AS n_orders,
         | ${Exact.sql.sumMoney("o_totalprice")} AS revenue
         |FROM orders
         |JOIN customer ON o_custkey = c_custkey
         |JOIN nation ON c_nationkey = n_nationkey
         |JOIN region ON n_regionkey = r_regionkey
         |GROUP BY r_name""".stripMargin,

    "q04_date_dim" -> DateDim.sql("1995-01-01", "1996-12-31"),

    "q05_anti_join_new_keys" ->
      """SELECT c_custkey, c_name, c_mktsegment FROM customer c
        |WHERE NOT EXISTS (SELECT 1 FROM orders o
        |  WHERE o.o_custkey = c.c_custkey AND o.o_orderstatus = 'F')""".stripMargin,

    "q06_watermark_incremental" ->
      s"""SELECT o_orderpriority, count(*) AS n_orders,
         | ${Exact.sql.sumMoney("o_totalprice")} AS sum_total
         |FROM orders
         |WHERE o_orderdate > (SELECT max(o_orderdate) FROM orders
         |                     WHERE o_orderstatus = 'F')
         |GROUP BY o_orderpriority""".stripMargin,

    "q07_union_dedup" ->
      """SELECT DISTINCT suppkey FROM (
        | SELECT l_suppkey AS suppkey FROM lineitem
        | UNION ALL SELECT s_suppkey AS suppkey FROM supplier)""".stripMargin,

    "q08_top_customers" ->
      """SELECT c_custkey, c_name, c_acctbal FROM customer
        |ORDER BY c_acctbal DESC, c_custkey LIMIT 10""".stripMargin,

    "q09_monthly_report" ->
      s"""SELECT CAST(year(o_orderdate) AS INTEGER) AS year_o,
         | CAST(month(o_orderdate) AS INTEGER) AS month_o,
         | l_returnflag, o_orderpriority, c_mktsegment,
         | ${Reports.sqlAggs(Seq(
             ("quantity", "l_quantity", Reports.Integral),
             ("price", "l_extendedprice", Reports.Money),
             ("disc_price", discPrice, Reports.Money),
             ("charge", charge, Reports.Money),
             ("totalprice", "o_totalprice", Reports.Money)))}
         |FROM lineitem
         |JOIN orders ON l_orderkey = o_orderkey
         |JOIN customer ON o_custkey = c_custkey
         |GROUP BY 1, 2, 3, 4, 5""".stripMargin,

    "q10_weekly_report" ->
      s"""SELECT CAST(year(o_orderdate) AS INTEGER) AS year_o,
         | CAST(weekofyear(o_orderdate) AS INTEGER) AS week_o,
         | dayname(o_orderdate) AS day_name_o,
         | l_returnflag, c_mktsegment,
         | ${Reports.sqlAggs(Seq(
             ("quantity", "l_quantity", Reports.Integral),
             ("price", "l_extendedprice", Reports.Money)))}
         |FROM lineitem
         |JOIN orders ON l_orderkey = o_orderkey
         |JOIN customer ON o_custkey = c_custkey
         |GROUP BY 1, 2, 3, 4, 5""".stripMargin,

    "q26_fact_build" ->
      s"""WITH dd AS (${DateDim.sql("1995-01-01", "2001-12-31")}),
         |li AS (SELECT DISTINCT * FROM lineitem)
         |SELECT l_orderkey, l_linenumber, l_quantity,
         |  l_extendedprice*(1-l_discount) AS disc_price, o_orderpriority,
         |  d_o.dateID AS date_o_id, d_s.dateID AS date_s_id
         |FROM li
         |JOIN orders ON l_orderkey = o_orderkey
         |JOIN dd d_o ON d_o.date = CAST(o_orderdate AS DATE)
         |JOIN dd d_s ON d_s.date = CAST(l_shipdate AS DATE)
         |WHERE l_orderkey IS NOT NULL AND l_shipdate IS NOT NULL""".stripMargin,

    "q11_token_stats" ->
      s"""SELECT doc_id, ${TF.sql.tokenCount("text")} AS n_tokens,
         | CAST(length(text) AS INTEGER) AS len_chars
         |FROM documents""".stripMargin,

    "q12_quality_score" ->
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
         |  FROM documents)""".stripMargin,

    "q31_bpe_tokens" ->
      s"""SELECT doc_id, ${TF.sql.bpeTokenCount("text")} AS n_bpe_tokens,
         | ${TF.sql.tokenCount("text")} AS n_ws_tokens
         |FROM documents""".stripMargin,

    "q13_lang_id" ->
      s"""SELECT lang, ${TF.sql.langId("text")} AS pred_lang,
         | count(*) AS n_docs
         |FROM documents GROUP BY 1, 2""".stripMargin,

    "q14_fingerprint_groups" ->
      s"""SELECT ${TF.sql.fingerprint("text")} AS fp,
         | min(doc_id) AS keep_id, count(*) AS n_docs
         |FROM documents GROUP BY 1""".stripMargin,

    "q15_exact_dedup" ->
      s"""SELECT doc_id, lang, source, n_chars FROM documents
         |WHERE doc_id IN (SELECT min(doc_id) FROM documents
         |  GROUP BY ${TF.sql.fingerprint("text")})""".stripMargin,

    "q16_event_windows" ->
      """SELECT time_bucket(INTERVAL '1 hour', ts) AS window_start,
        | event_type, count(*) AS n_events,
        | sum(round(value*100))/100.0 AS sum_value
        |FROM events GROUP BY 1, 2""".stripMargin,

    "q17_sessionize" ->
      """WITH tagged AS (
        |  SELECT user_id, ts, event_id,
        |    CASE WHEN lag(ts) OVER w IS NULL
        |      OR datediff('second', lag(ts) OVER w, ts) > 1800
        |      THEN 1 ELSE 0 END AS new_sess
        |  FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
        |sess AS (
        |  SELECT user_id, ts,
        |    CAST(sum(new_sess) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |      ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_id
        |  FROM tagged)
        |SELECT user_id, session_id, count(*) AS n_events,
        |  min(ts) AS session_start, max(ts) AS session_end,
        |  datediff('second', min(ts), max(ts)) AS duration_sec
        |FROM sess GROUP BY user_id, session_id""".stripMargin,

    "q18_multimodal_meta" ->
      """SELECT doc_id,
        | CASE WHEN doc_id % 3 = 0 THEN 'image'
        |      WHEN doc_id % 3 = 1 THEN 'audio' ELSE 'video' END AS media_type,
        | CAST(octet_length(encode(text)) AS INTEGER) AS n_bytes,
        | sha256(text) AS checksum
        |FROM documents""".stripMargin,

    "q33_set_ops" ->
      """SELECT suppkey, 'both' AS cls FROM (
        |  SELECT l_suppkey AS suppkey FROM lineitem
        |  INTERSECT
        |  SELECT l_suppkey FROM lineitem WHERE l_quantity >= 45)
        |UNION ALL
        |SELECT suppkey, 'small_only' AS cls FROM (
        |  SELECT l_suppkey AS suppkey FROM lineitem
        |  EXCEPT
        |  SELECT l_suppkey FROM lineitem WHERE l_quantity >= 45)""".stripMargin,

    "q34_string_funcs" ->
      """SELECT c_custkey,
        | upper(c_name) AS up, lower(c_mktsegment) AS lo,
        | substring(c_name, 1, 8) AS sub,
        | concat_ws('|', c_mktsegment, c_name) AS joined,
        | CAST(length(c_name) AS INTEGER) AS len,
        | reverse(c_name) AS rev,
        | lpad(CAST(c_custkey AS VARCHAR), 8, '0') AS padded,
        | regexp_replace(c_name, '[0-9]+', '#', 'g') AS masked,
        | CAST(strpos(c_name, '1') AS INTEGER) AS pos1
        |FROM customer""".stripMargin,

    "q32_rollup_report" ->
      s"""SELECT CAST(year(o_orderdate) AS INTEGER) AS year_o,
         | CAST(month(o_orderdate) AS INTEGER) AS month_o,
         | count(*) AS n_orders,
         | ${Exact.sql.sumMoney("o_totalprice")} AS sum_total
         |FROM orders GROUP BY ROLLUP (1, 2)""".stripMargin,

    // Positional tokens (the q73 idx pattern), the FNV/fmix HUGEINT
    // replay, two's-complement down-cast for the XOR leg, unsigned
    // mod for the boundary test (u % m == 0 iff pmod(signed, m) == 0:
    // 2^64 is divisible by any power-of-two modulus), then the same
    // strictly-before running sum.
    "q186_cdc_chunks" ->
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
         |FROM c GROUP BY 1, 2""".stripMargin,

    // The q93 score CTE + the id-ordered pair join + the same five
    // counters and the same fixed op sequence into round(.*2^14).
    "q184_kendall" -> kendallOracleSql,

    // q187 computes the SAME statistic join-free (merge-sort rank
    // rounds + per-bucket Fenwick); the oracle is q184's pair SQL
    // verbatim — the q38/q52 "scale twin carries the window form's
    // oracle" pattern.
    "q187_kendall_scalable" -> kendallOracleSql,


    // Both rankings as plain windows, the same exact position map.
    "q185_quantile_norm" ->
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
        .stripMargin,

    // The full lattice + the standard GROUPING bitmask (first
    // grouping column = high bit in both engines; DuckDB's GROUPING
    // needs plain grouping COLUMNS, hence the CTE).
    "q183_cube_report" ->
      s"""WITH o AS (SELECT CAST(year(o_orderdate) AS INTEGER)
         |    AS year_o, o_orderstatus, o_totalprice FROM orders)
         |SELECT year_o, o_orderstatus,
         | CAST(GROUPING(year_o, o_orderstatus) AS BIGINT) AS gid,
         | count(*) AS n_orders,
         | ${Exact.sql.sumMoney("o_totalprice")} AS sum_total
         |FROM o GROUP BY CUBE (year_o, o_orderstatus)""".stripMargin,

    "q35_chunking" ->
      TF.sql.chunksQuery("documents", "doc_id", "text", 64, 48),

    "q39_grouped_arrays" ->
      s"""SELECT l_orderkey,
         | string_agg(CAST(l_linenumber AS VARCHAR), ','
         |   ORDER BY l_linenumber) AS line_numbers,
         | CAST(count(*) AS INTEGER) AS n_lines,
         | ${Exact.sql.sumMoney("l_extendedprice")} AS order_value,
         | string_agg(CAST(l_linenumber * l_linenumber AS VARCHAR), ','
         |   ORDER BY l_linenumber) AS line_numbers_sq
         |FROM lineitem GROUP BY 1""".stripMargin,

    // Percentile convention: with a rank-exact sketch, percentile_approx
    // returns the ceil(p*n)-th smallest element — pinned here via
    // row_number instead of quantile_disc (whose rank rule differs).
    "q29_corpus_profile" ->
      """WITH ranked AS (
        |  SELECT lang, text, n_chars,
        |    row_number() OVER (PARTITION BY lang ORDER BY n_chars) AS rn,
        |    count(*) OVER (PARTITION BY lang) AS cnt
        |  FROM documents)
        |SELECT lang, count(*) AS n_docs,
        |  count(DISTINCT text) AS n_distinct_texts,
        |  max(CASE WHEN rn = CAST(ceil(0.5*cnt) AS BIGINT) THEN n_chars END)
        |    AS chars_p50,
        |  max(CASE WHEN rn = CAST(ceil(0.9*cnt) AS BIGINT) THEN n_chars END)
        |    AS chars_p90,
        |  sum(n_chars)/count(*) AS avg_chars
        |FROM ranked GROUP BY lang""".stripMargin,

    "q37_conditional_agg" ->
      s"""SELECT CAST(year(o_orderdate) AS INTEGER) AS year_o,
         | count(*) FILTER (o_orderstatus = 'F') AS n_finished,
         | count(*) FILTER (o_orderstatus = 'O') AS n_open,
         | sum(round((CASE WHEN o_orderstatus = 'F' THEN o_totalprice
         |   ELSE 0.0 END)*100))/100.0 AS finished_total,
         | sum(CASE WHEN o_orderpriority = '1-URGENT' THEN 1 ELSE 0 END)
         |   / CAST(count(*) AS DOUBLE) AS urgent_ratio
         |FROM orders GROUP BY 1""".stripMargin,

    "q38_distribution_windows" ->
      """SELECT c_custkey, c_mktsegment, c_acctbal,
        | CAST(ntile(4) OVER w AS INTEGER) AS balance_quartile,
        | percent_rank() OVER w AS balance_pct_rank
        |FROM customer
        |WINDOW w AS (PARTITION BY c_mktsegment
        |             ORDER BY c_acctbal ASC, c_custkey ASC)""".stripMargin,

    // q52 is rank-identical to q38 by construction — same oracle.
    "q52_scalable_windows" ->
      """SELECT c_custkey, c_mktsegment, c_acctbal,
        | CAST(ntile(4) OVER w AS INTEGER) AS balance_quartile,
        | percent_rank() OVER w AS balance_pct_rank
        |FROM customer
        |WINDOW w AS (PARTITION BY c_mktsegment
        |             ORDER BY c_acctbal ASC, c_custkey ASC)""".stripMargin,

    "q36_tfidf_keywords" ->
      TF.sql.topKeywordsQuery("documents", "doc_id", "text", k = 5),

    "q30_asof_purchase" ->
      """WITH p AS (
        |  SELECT user_id, ts, value FROM (
        |    SELECT user_id, ts, value,
        |      row_number() OVER (PARTITION BY user_id, ts
        |                         ORDER BY event_id DESC) AS rn
        |    FROM events WHERE event_type = 'purchase') WHERE rn = 1)
        |SELECT e.event_id, e.user_id, e.ts,
        |  p.value AS last_purchase_value, p.ts AS last_purchase_ts
        |FROM events e
        |ASOF LEFT JOIN p ON e.user_id = p.user_id AND e.ts >= p.ts""".stripMargin,

    "q27_cleanse_events" ->
      """SELECT coalesce(nullif(event_type, 'error'), 'unknown') AS etype,
        | count(*) AS n,
        | sum(CAST(CAST(json_extract_string(props, '$.k') AS INTEGER) AS DOUBLE)) AS sum_k,
        | max(value) AS max_value
        |FROM events GROUP BY 1""".stripMargin,

    "q28_window_analytics" ->
      """SELECT o_orderkey, o_custkey,
        | CAST(row_number() OVER w AS INTEGER) AS order_rank,
        | CAST(datediff('day', lag(o_orderdate) OVER w, o_orderdate) AS INTEGER)
        |   AS prev_gap_days,
        | sum(round(o_totalprice*100)) OVER
        |   (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
        |    ROWS UNBOUNDED PRECEDING) / 100.0 AS running_spend
        |FROM orders WINDOW w AS
        | (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)""".stripMargin,

    // All-pairs exact n-gram Jaccard — the DuckDB side has no prefix
    // filter (it brute-forces the token join), so matching it proves
    // the Spark prefix filter dropped nothing.
    "q24_ngram_jaccard_pairs" ->
      """WITH norm AS (SELECT doc_id,
        |  regexp_replace(lower(text), '\s+', ' ', 'g') AS t FROM documents),
        |idx AS (SELECT doc_id, t,
        |  unnest(range(1, greatest(length(t)-4, 1)+1)) AS i FROM norm),
        |g AS (SELECT DISTINCT doc_id,
        |  CASE WHEN length(t) <= 5 THEN t
        |       ELSE substring(t, CAST(i AS INTEGER), 5) END AS ng FROM idx),
        |counts AS (SELECT doc_id, count(*) AS sz FROM g GROUP BY 1),
        |inter AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS ovl
        |  FROM g a JOIN g b ON a.ng = b.ng AND a.doc_id < b.doc_id
        |  GROUP BY 1, 2)
        |SELECT id_a, id_b,
        |  CAST(ovl AS DOUBLE)/(ca.sz + cb.sz - ovl) AS jaccard
        |FROM inter
        |JOIN counts ca ON ca.doc_id = id_a
        |JOIN counts cb ON cb.doc_id = id_b
        |WHERE CAST(ovl AS DOUBLE)/(ca.sz + cb.sz - ovl) >= 0.4""".stripMargin,

    // Banded hyperplane LSH near-dup replayed END TO END: the LCG
    // plane replay (see lshPlanesCte) feeds 12 bands × 3 sign bits
    // (single chain, band = p/3, bit = p%3), candidates collide in any
    // band, exact cosine ≥ 0.3 verifies — every double along the way
    // is a single correctly-rounded IEEE op in both engines. The flood
    // cap (maxBucket=10000) cannot trip at the gate scale (≤500 rows
    // per bucket), so the oracle omits it.
    "q23_embedding_neardup" ->
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
         |SELECT id_a, id_b, cosine FROM scored WHERE cosine >= 0.3""".stripMargin,

    // Multi-table multi-probe LSH top-k replayed end to end: 6 tables
    // of 4 sign bits at seeds 42..47, each query probes its own bucket
    // plus every 1-bit flip, candidates verify by exact cosine, same
    // (sim DESC, id ASC) tie rule as the Spark window.
    "q25_ann_lsh" ->
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
         |  FROM scored) WHERE rnk <= 5""".stripMargin,

    // The LSH self k-NN graph replayed end to end: 16 tables × 3 sign
    // bits at seeds 42..57, symmetric bucket collisions (qid < id),
    // each unordered pair scored once and mirrored — cosine(a,b) is
    // bit-identical to cosine(b,a) — then per-vector top-5. The
    // k-bounded heap's tie rule (sim DESC via the struct order, id ASC
    // via the negated-id field) is exactly row_number's here, the same
    // equivalence the oracle-green exact twin q65 already pins.
    "q92_knn_graph_lsh" ->
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
         |  FROM mirrored) WHERE rnk <= 5""".stripMargin,

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
    "q188_knn_graph_lsh_scaled" ->
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
         |  FROM mirrored) WHERE rnk <= 5""".stripMargin,

    // IVF over k-means centroids replayed end to end: two
    // deterministic Lloyd rounds (see kmeansCteSql) rebuild the 256
    // centroids bit-for-bit, then list assignment, 64-probe selection
    // and the final top-5 all use the same (cosine DESC, id ASC)
    // arithmetic the green q42/q77 oracle already pins.
    // Oracle built by the operator itself (sim.Pq) — subspace Lloyd,
    // encode, and the integer ADC sum in one replay.
    "q96_pq_adc" ->
      graft.sim.Pq.adcOracleSql(m = 16, k = 64, dim = 64, iters = 2,
        nQueries = 8, topK = 5),

    // The build-then-append protocol's exact replay: Lloyd over the
    // seed slice only, encode/score over the full corpus.
    "q98_pq_append" ->
      graft.sim.Pq.adcOracleSql(m = 16, k = 64, dim = 64, iters = 2,
        nQueries = 8, topK = 5, trainWhere = "vec_id % 10 <> 0"),

    // ADC CTEs + q42-shape IVF assignment + probed-list candidates +
    // integer shortlist + exact rerank, in one replay.
    "q99_ivfpq" ->
      graft.sim.Pq.ivfAdcRerankOracleSql(m = 16, k = 64, dim = 64,
        iters = 2, nQueries = 8, nCentroids = 16, nProbe = 4,
        shortlist = 20, topK = 5),

    // Shared CTEs + shortlist + exact cosine rerank.
    "q97_pq_rerank" ->
      graft.sim.Pq.adcRerankOracleSql(m = 16, k = 64, dim = 64, iters = 2,
        nQueries = 8, shortlist = 50, topK = 5),

    "q48_ann_ivf_kmeans" ->
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
         |  FROM scored) WHERE rnk <= 5""".stripMargin,

    // SemDeDup replayed end to end: one Lloyd round rebuilds the 256
    // cells, each vector takes its top-8 cells (the heap's
    // (csim, -cid) tie rule is row_number's rn <= 8 here), pairs
    // sharing any cell verify by exact cosine, and the higher id of
    // every qualifying pair drops.
    "q58_semantic_dedup" ->
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
         |WHERE vec_id NOT IN (SELECT vec_id FROM losers)""".stripMargin,

    // Chunk pigeonholing is exact below the flood cap, and the token
    // hash is SQL-replayable by design — the oracle brute-forces every
    // signature and pair (see simhashPairsOracleSql).
    "q21_simhash_pairs" -> simhashPairsOracleSql,

    // Full replay of the hashed-linear classifier: Fnv64Sql.tokHash
    // (unsigned HUGEINT) → low-20-bit bucket → the same Knuth-mix
    // weight, summed per doc. Every intermediate is a nonneg integer
    // < 2^52, so the arithmetic is exact in both engines; the LEFT
    // JOIN + coalesce covers zero-token docs (Spark's empty token
    // array scores 0).
    "q93_quality_classifier" -> oracleSqlClassifier,

    // Oracle built by the operator itself (graft.text.Repetition) so
    // split rules, tie-breaks, and zero-fills cannot drift.
    "q94_repetition_stats" ->
      graft.text.Repetition.statsOracleSql("documents", "doc_id", "text"),

    "q100_gopher_filter" ->
      graft.text.Repetition.gopherFilterOracleSql("documents", "doc_id", "text"),

    // Whole-bit surprisal replay: floor(log2 q) as length(bin(q))-1 —
    // pure integer arithmetic, identical in both engines; the mean is
    // the one IEEE division.
    "q101_perplexity_band" -> perplexityBandOracleSql(4.0, 4.04),

    "q102_source_gate" ->
      """WITH base AS (SELECT source, count(*) AS n_docs,
        |    count(DISTINCT text) AS n_distinct,
        |    CAST(sum(n_chars) AS BIGINT) AS sum_chars
        |  FROM documents GROUP BY 1),
        |modal AS (SELECT source, lang AS modal_lang, lc AS modal_cnt
        |  FROM (SELECT source, lang, lc, row_number() OVER (
        |      PARTITION BY source ORDER BY lc DESC, lang ASC) AS rn
        |    FROM (SELECT source, lang, count(*) AS lc FROM documents
        |      GROUP BY 1, 2)) WHERE rn = 1)
        |SELECT b.source, b.n_docs,
        |  b.n_docs - b.n_distinct AS n_dup,
        |  CAST(b.n_docs - b.n_distinct AS DOUBLE) / CAST(b.n_docs AS DOUBLE)
        |    AS dup_frac,
        |  CAST(b.sum_chars AS DOUBLE) / CAST(b.n_docs AS DOUBLE)
        |    AS mean_chars,
        |  m.modal_lang,
        |  CAST(m.modal_cnt AS DOUBLE) / CAST(b.n_docs AS DOUBLE)
        |    AS modal_frac,
        |  CAST(CASE WHEN
        |      CAST(b.n_docs - b.n_distinct AS DOUBLE)
        |        / CAST(b.n_docs AS DOUBLE) <= 0.1
        |      AND CAST(b.sum_chars AS DOUBLE)
        |        / CAST(b.n_docs AS DOUBLE) >= 290.0
        |      AND CAST(m.modal_cnt AS DOUBLE)
        |        / CAST(b.n_docs AS DOUBLE) >= 0.40
        |    THEN 1 ELSE 0 END AS INTEGER) AS kept
        |FROM base b JOIN modal m USING (source)""".stripMargin,

    // q101's bit-length arithmetic, add-one smoothed on both LMs;
    // raw tokens unseen in the target fall to the target's OOV
    // surprisal floor(log2(N_t + V_t)).
    "q103_dsir_select" ->
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
         |FROM scored ORDER BY llr_q DESC, doc_id ASC LIMIT 200""".stripMargin,

    // q75's quantization in list form + the pinned ±1 matrix rendered
    // as list literals (Jl.projectionSql — the same driver-side array
    // the Spark plan inlines). All-integer distances, one CAST each.
    "q104_jl_topk" ->
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
         |  FROM scored) WHERE rnk <= 5""".stripMargin,

    // The composition: q104's integer shortlist (50), then q19's
    // float-cosine arithmetic on shortlist rows only.
    "q105_jl_rerank" ->
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
         |  FROM scored) WHERE rnk <= 5""".stripMargin,

    // tf · whole-bit idf, every score an exact BIGINT; the VALUES
    // list renders from the same keywordQueries constant the Spark
    // frame uses. q107 shares it verbatim: the persisted bucket-
    // partitioned index must reproduce the inline search bit-for-bit.
    "q106_keyword_search" -> keywordSearchOracleSql,
    "q107_keyword_indexed" -> keywordSearchOracleSql,

    // The votes-per-start reformulation replayed as GROUP BY …
    // HAVING-count — all-integer, and the absent-phrase query
    // (qid 5) is proven absent by both engines.
    "q110_phrase_search" -> phraseSearchOracleSql,
    "q111_phrase_indexed" -> phraseSearchOracleSql,

    "q112_phrase_decon" -> phraseDeconOracleSql,
    "q113_hybrid_rrf" -> hybridRrfOracleSql,
    "q117_phrase_scrub" -> phraseScrubOracleSql,
    "q118_rank_eval" -> rankEvalOracleSql,

    // q118's hybrid + graded-truth CTEs, the SAME pinned discount
    // table (Eval.discountCaseSql), the same ideal-order truncation.
    "q182_ndcg" ->
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
         |FROM i FULL JOIN d ON d.qid = i.qid""".stripMargin,

    // The q65 cosine replay split train/probe: hit counts against
    // the held-out side, left-joined back so zero-hit rows survive.
    "q124_semantic_decon" ->
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
        |FROM c LEFT JOIN h ON h.vec_id = c.vec_id""".stripMargin,

    // The q124 CTEs grouped by the PROBE side.
    "q142_probe_leakage" ->
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
        |FROM t LEFT JOIN h ON h.vec_id = t.vec_id""".stripMargin,

    // The C4 line + doc gates replayed over the same split pieces
    // (string_split keeps empties exactly like Spark's limit -1).
    "q125_line_filter" ->
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
        |FROM x""".stripMargin,

    // q65's ranking with the label-inequality predicate — the exact
    // hard-negative ground truth.
    "q126_hard_negatives" ->
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
        |  FROM scored) WHERE rnk <= 5""".stripMargin,

    // The division-free centroid-distance key in pure integer SQL:
    // same fixed-point codes (floor(v*1e4)), exact sums, n*<x,x>-2<x,s>.
    "q127_centroid_outliers" ->
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
        |WHERE rnk <= 3""".stripMargin,

    // The naive single-window form of the sorted-neighborhood rank —
    // exactly the plan shape the operator's two-phase rank replaces.
    "q128_sorted_neighborhood" ->
      """WITH r AS (SELECT doc_id, text,
        |  row_number() OVER (ORDER BY text, doc_id) AS rn FROM documents)
        |SELECT a.doc_id AS a_id, b.doc_id AS b_id,
        |  CAST(levenshtein(substr(a.text, 1, 128), substr(b.text, 1, 128))
        |    AS INTEGER) AS lev,
        |  levenshtein(substr(a.text, 1, 128), substr(b.text, 1, 128)) <= 40
        |    AS is_dup
        |FROM r AS a JOIN r AS b ON b.rn - a.rn BETWEEN 1 AND 2""".stripMargin,

    // NTILE + integer inverse-frequency weight, same fixed point.
    "q129_length_balance" ->
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
         |FROM d""".stripMargin,

    // The q127 fixed-point codes, second moment added.
    "q130_dim_moments" ->
      """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        |flat AS (SELECT vec_id,
        |  unnest(generate_series(1, len(v))) AS pos, v FROM e),
        |xf AS (SELECT pos, CAST(floor(v[pos] * 10000.0) AS BIGINT) AS xv
        |  FROM flat)
        |SELECT CAST(pos - 1 AS INTEGER) AS dim,
        |  count(*) AS n, CAST(sum(xv) AS BIGINT) AS s,
        |  CAST(sum(xv * xv) AS BIGINT) AS ss
        |FROM xf GROUP BY pos""".stripMargin,

    // The q116 bigram slice + unigram counts + the same integer lift.
    "q133_collocations" ->
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
         |WHERE cr <= 20""".stripMargin,

    // Distinct (source, token) presence + token-keyed self-join +
    // the same one-division Jaccard.
    "q205_vocab_overlap" ->
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
         |JOIN sz sb ON sb.src = i.src_b""".stripMargin,

    // The 2×2 chi-square replayed in HUGEINT: same presence counts
    // (list_distinct ≡ array_distinct for counting), same two
    // integral divisions in the same grouping, so the fixed-point
    // ranking is bit-identical.
    "q190_chi2_tokens" ->
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
         |WHERE cr <= 50""".stripMargin,

    // The diff spelled as a FULL OUTER id join; text equality stands
    // in for the md5-fingerprint equality (same verdict, no collision
    // at oracle scale).
    "q134_snapshot_diff" ->
      """WITH o AS (SELECT doc_id, text FROM documents WHERE doc_id % 7 <> 0),
        |n AS (SELECT doc_id,
        |  CASE WHEN doc_id % 11 = 0 THEN text || ' [rev2]' ELSE text END
        |    AS text
        |  FROM documents WHERE doc_id % 5 <> 0)
        |SELECT COALESCE(o.doc_id, n.doc_id) AS doc_id,
        |  CASE WHEN o.doc_id IS NULL THEN 'added'
        |       WHEN n.doc_id IS NULL THEN 'removed'
        |       WHEN o.text = n.text THEN 'unchanged'
        |       ELSE 'changed' END AS status
        |FROM o FULL OUTER JOIN n ON o.doc_id = n.doc_id""".stripMargin,

    // The margin arithmetic replayed pairwise: fixed-point cosine
    // codes, window-ranked top-4 neighborhood sums (exact integer),
    // one division into the 2^14 margin code.
    "q143_bitext_margin" ->
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
        |FROM bst JOIN f ON f.sid = bst.sid JOIN b ON b.tid = bst.tid""".stripMargin,

    // The q59 shingle CTE split into reference/fresh; novelty is a
    // NOT-IN membership via left join on the shingle string.
    "q144_snapshot_novelty" ->
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
         |GROUP BY 1""".stripMargin,

    // q161's window-end explode for WAU, a direct per-day distinct
    // for DAU, the same fixed-point ratio.
    "q165_stickiness" ->
      """WITH act AS (SELECT DISTINCT CAST(ts AS DATE) AS uday, user_id
        |  FROM events),
        |obs AS (SELECT DISTINCT uday AS day FROM act),
        |d AS (SELECT uday AS day, count(DISTINCT user_id) AS dau
        |  FROM act GROUP BY 1),
        |ex AS (SELECT CAST(unnest(generate_series(CAST(uday AS TIMESTAMP),
        |    CAST(uday AS TIMESTAMP) + INTERVAL 6 DAY, INTERVAL 1 DAY))
        |    AS DATE) AS day, user_id FROM act),
        |w AS (SELECT ex.day, count(DISTINCT user_id) AS wau
        |  FROM ex JOIN obs ON obs.day = ex.day GROUP BY 1)
        |SELECT d.day, d.dau, w.wau,
        |  CAST(round(CAST(d.dau AS DOUBLE) / CAST(w.wau AS DOUBLE)
        |    * 16384.0) AS BIGINT) AS stickiness_code
        |FROM d JOIN w ON w.day = d.day""".stripMargin,

    // Window cumulative weights + the same integer crossing rule.
    "q163_weighted_median" ->
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
         |WHERE cum >= (tw + 1) // 2 AND cum - w < (tw + 1) // 2""".stripMargin,

    // The same canonical row string (chr(1) joins, chr(2) nulls),
    // md5 prefix as a hex-literal BIGINT, xor + mod-p sum.
    "q164_freeze_digest" ->
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
        |FROM c""".stripMargin,

    // The q93 score CTE + five exact moments + the literal
    // correlation op sequence.
    "q162_length_quality_corr" ->
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
         |FROM m""".stripMargin,

    // The q59 shingle CTE + a min-carrier aggregate.
    "q160_first_carrier" ->
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
         |GROUP BY 1""".stripMargin,

    // Each (user, active-day) fact exploded to its window ends,
    // restricted to observed days, one distinct count.
    "q161_rolling_active" ->
      """WITH act AS (SELECT DISTINCT CAST(ts AS DATE) AS uday, user_id
        |  FROM events),
        |obs AS (SELECT DISTINCT uday AS day FROM act),
        |ex AS (SELECT CAST(unnest(generate_series(CAST(uday AS TIMESTAMP),
        |    CAST(uday AS TIMESTAMP) + INTERVAL 6 DAY, INTERVAL 1 DAY))
        |    AS DATE) AS day, user_id
        |  FROM act)
        |SELECT ex.day, count(DISTINCT user_id) AS active_users
        |FROM ex JOIN obs ON obs.day = ex.day
        |GROUP BY 1""".stripMargin,

    // The q59 shingle CTE grouped by source as clusters-as-meta-
    // documents + the q106 whole-bit idf; ties token-DESC (the
    // struct max-heap's order).
    "q159_cluster_keywords" ->
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
         |FROM r WHERE rnk <= 5""".stripMargin,

    // The 0.25 components CTE + a second closure on the old-corpus
    // restriction of the same pairs.
    "q158_component_churn" ->
      s"""WITH RECURSIVE
         |${componentsCte(0.25)},
         |e2 AS (SELECT id_a AS src, id_b AS dst FROM pairs
         |    WHERE id_a % 9 <> 0 AND id_b % 9 <> 0
         |  UNION SELECT id_b, id_a FROM pairs
         |    WHERE id_a % 9 <> 0 AND id_b % 9 <> 0),
         |r2(id, c) AS (
         |  SELECT src, src FROM e2
         |  UNION
         |  SELECT e.dst, r.c FROM r2 r JOIN e2 e ON e.src = r.id),
         |c2 AS (SELECT id, min(c) AS component_old FROM r2 GROUP BY id),
         |j AS (SELECT comp.id, comp.component, c2.component_old
         |  FROM comp LEFT JOIN c2 ON c2.id = comp.id)
         |SELECT component, count(*) AS n_docs,
         |  CAST(sum(CASE WHEN component_old IS NOT NULL THEN 1 ELSE 0 END)
         |    AS BIGINT) AS n_old_members,
         |  CAST(count(DISTINCT component_old) AS BIGINT) AS n_old_components,
         |  count(DISTINCT component_old) >= 2 AS merged
         |FROM j GROUP BY 1""".stripMargin,

    // Frequency CTE + the global rank/running-sum windows the
    // two-phase machinery is bit-identical to.
    "q156_vocab_coverage" ->
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
         |  2048, 4096, 8192, 16384)""".stripMargin,

    // The q146 fingerprint CTE, distinct (doc, fp), flood cap,
    // unordered self-join, shared-count gate.
    "q157_winnow_pairs" ->
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
         |HAVING count(*) >= 2""".stripMargin,

    // One NTILE window — the oracle runs the global form the Spark
    // side's two-phase rank is bit-identical to.
    "q154_equidepth_histogram" ->
      """WITH r AS (SELECT o_totalprice,
        |  ntile(16) OVER (ORDER BY o_totalprice, o_orderkey) AS bucket
        |  FROM orders WHERE o_totalprice IS NOT NULL)
        |SELECT CAST(bucket AS INTEGER) AS bucket, count(*) AS n,
        |  min(o_totalprice) AS lo, max(o_totalprice) AS hi
        |FROM r GROUP BY 1""".stripMargin,

    // q47's recursive components left-joined onto documents.
    "q155_source_dup_report" ->
      s"""WITH RECURSIVE
         |${componentsCte(0.4)},
         |j AS (SELECT d.doc_id, d.source, comp.component
         |  FROM documents d LEFT JOIN comp ON comp.id = d.doc_id)
         |SELECT source, count(*) AS n_docs,
         |  CAST(sum(CASE WHEN component IS NOT NULL THEN 1 ELSE 0 END)
         |    AS BIGINT) AS n_in_family,
         |  CAST(count(DISTINCT component) AS BIGINT) AS n_families,
         |  CAST(sum(CASE WHEN component IS NOT NULL THEN 1 ELSE 0 END)
         |    AS BIGINT) / count(*) AS dup_rate
         |FROM j GROUP BY 1""".stripMargin,

    // q17's session window (datediff-second gap, the floor-second
    // match to unix_timestamp) + two leads guarded to the session.
    "q153_path_trigrams" ->
      """WITH g AS (SELECT user_id, event_id, ts, event_type,
        |  datediff('second', lag(ts) OVER
        |    (PARTITION BY user_id ORDER BY ts, event_id), ts) AS gap
        |  FROM events),
        |t AS (SELECT *, sum(CASE WHEN gap IS NULL OR gap > 1800
        |    THEN 1 ELSE 0 END) OVER
        |    (PARTITION BY user_id ORDER BY ts, event_id
        |     ROWS UNBOUNDED PRECEDING) AS sess FROM g),
        |l AS (SELECT event_type AS e1,
        |  lead(event_type, 1) OVER w AS e2,
        |  lead(sess, 1) OVER w AS s2,
        |  lead(event_type, 2) OVER w AS e3,
        |  lead(sess, 2) OVER w AS s3, sess
        |  FROM t WINDOW w AS
        |    (PARTITION BY user_id ORDER BY ts, event_id))
        |SELECT e1, e2, e3, count(*) AS n_paths FROM l
        |WHERE s2 = sess AND s3 = sess
        |GROUP BY 1, 2, 3""".stripMargin,

    // q35's chunk query (stride = size) + the q13 langId CASE per
    // chunk + a window-ranked majority (ties to the smallest lang).
    "q152_mixed_language" -> {
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
    },

    // The q93/q136 score CTE + window-ranked lower medians (the
    // two-phase rank is bit-identical to the window form by
    // construction) and the same integer MAD comparison.
    "q151_mad_outliers" ->
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
         |FROM dv JOIN mad ON mad.source = dv.source""".stripMargin,

    // q47's recursive components + sizes + the q63 md5-cut replay.
    "q148_dedup_weighted_sample" ->
      s"""WITH RECURSIVE
         |${componentsCte(0.4)},
         |sz AS (SELECT component, count(*) AS n FROM comp GROUP BY 1),
         |w AS (SELECT d.doc_id,
         |  CAST(coalesce(sz.n, 1) AS BIGINT) AS csize,
         |  CAST(1.0 AS DOUBLE) / coalesce(sz.n, 1) AS weight
         |  FROM documents d
         |  LEFT JOIN comp ON comp.id = d.doc_id
         |  LEFT JOIN sz ON sz.component = comp.component),
         |cut AS (SELECT *,
         |  lpad(lower(to_hex(CAST(least(floor(weight * 4294967296.0),
         |    4294967295) AS BIGINT))), 8, '0') AS threshold FROM w)
         |SELECT doc_id, csize, weight FROM cut
         |WHERE weight >= 1.0
         |   OR substring(md5(CAST(doc_id AS VARCHAR)), 1, 8) < threshold""".stripMargin,

    // One combo-count CTE, the same <5 mask.
    "q149_k_anonymity" ->
      """WITH c AS (SELECT lang, source, count(*) AS combo_n
        |  FROM documents GROUP BY 1, 2)
        |SELECT d.doc_id,
        |  CASE WHEN c.combo_n < 5 THEN '*' ELSE d.lang END AS lang,
        |  CASE WHEN c.combo_n < 5 THEN '*' ELSE d.source END AS source,
        |  CAST(c.combo_n AS BIGINT) AS combo_n,
        |  c.combo_n < 5 AS suppressed
        |FROM documents d
        |JOIN c ON c.lang IS NOT DISTINCT FROM d.lang
        |      AND c.source IS NOT DISTINCT FROM d.source""".stripMargin,

    // The same deterministic feed, folded with NOT IN + UNION ALL.
    "q150_cdc_merge" ->
      """WITH standing AS (SELECT * FROM documents WHERE doc_id % 5 <> 4),
        |ins AS (SELECT doc_id, text, lang, source, n_chars
        |  FROM documents WHERE doc_id % 5 = 4),
        |upd AS (SELECT doc_id, text, lang, source,
        |  CAST(n_chars + 1000 AS BIGINT) AS n_chars
        |  FROM standing WHERE doc_id % 7 = 0),
        |del AS (SELECT doc_id FROM standing
        |  WHERE doc_id % 11 = 0 AND doc_id % 7 <> 0),
        |touched AS (SELECT doc_id FROM ins UNION SELECT doc_id FROM upd
        |  UNION SELECT doc_id FROM del)
        |SELECT s.doc_id, s.text, s.lang, s.source, s.n_chars
        |FROM standing s
        |WHERE s.doc_id NOT IN (SELECT doc_id FROM touched)
        |UNION ALL SELECT * FROM ins
        |UNION ALL SELECT * FROM upd""".stripMargin,

    // The canonical three-way join (a<b, b<c, a<c all in pairs) —
    // the id-sorted triple equals the orientation-found triangle.
    "q147_triangles" ->
      s"""WITH ${charPairsCte(0.25)}
         |SELECT e1.id_a, e1.id_b, e2.id_b AS id_c
         |FROM pairs e1
         |JOIN pairs e2 ON e2.id_a = e1.id_b
         |JOIN pairs e3 ON e3.id_a = e1.id_a AND e3.id_b = e2.id_b""".stripMargin,

    // The q59/q144 shingle CTE at k=3, the HUGEINT token-hash replay
    // reduced mod 2^40, and the same packed-argmin window arithmetic.
    "q146_winnow_fingerprints" ->
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
         |FROM wn WHERE rn >= least(4, tot)""".stripMargin,

    // q130's moments CTE extended by the literal IEEE op sequence
    // (mean = s/n; std = sqrt((ss - s*mean)/n); z = (x - mean)/std).
    "q145_whiten_apply" ->
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
        |FROM xf JOIN st ON st.pos = xf.pos""".stripMargin,

    // The q81 split CASE keyed on source instead of the dup group.
    "q141_group_split" ->
      s"""SELECT doc_id, source AS grp,
         |  ${graft.ops.Splits.sql.splitCase("source", splitFractions)}
         |    AS split
         |FROM documents""".stripMargin,

    // One SELECT per profiled column, unioned in request order.
    "q139_profile" -> {
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
    },

    // One SELECT per contract clause; rule strings match the
    // Expectation helpers' generated names byte-for-byte.
    "q140_expectations" -> {
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
    },

    // First digit from the cents image's decimal string; the same
    // per-million expected table (sums to exactly 1e6) inlined as a
    // list literal.
    "q198_benford" ->
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
        |FROM alld a LEFT JOIN cnt c ON c.digit = a.digit, t""".stripMargin,

    // The q134 snapshots re-bucketed by token-length bin and the
    // same fixed-point share ratio.
    "q138_drift_report" ->
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
         |FROM t""".stripMargin,

    // q138's snapshot pair, per-source ECDFs: the KS statistic in
    // micro-units with each ECDF quantized by integral division
    // BEFORE differencing, exactly the Spark operator's arithmetic
    // (DuckDB // on non-negative integers ≡ Spark DIV).
    "q189_ks_drift" ->
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
         |FROM d GROUP BY 1, 2, 3""".stripMargin,

    // The q56 epoch-bin convention + a RANGE window baseline and the
    // same integer ratio.
    "q135_burst_detect" ->
      """WITH b AS (SELECT event_type,
        |  epoch_us(ts) // 3600000000 AS bin, count(*) AS n
        |  FROM events GROUP BY 1, 2),
        |w AS (SELECT *, sum(n) OVER (PARTITION BY event_type ORDER BY bin
        |    RANGE BETWEEN 6 PRECEDING AND 1 PRECEDING) AS tn FROM b)
        |SELECT event_type, CAST(bin AS BIGINT) AS bin,
        |  CAST(n AS BIGINT) AS n,
        |  CAST(COALESCE(tn, 0) AS BIGINT) AS trail_n,
        |  CAST(CASE WHEN COALESCE(tn, 0) > 0 THEN (n * 6 * 10000) // tn
        |    END AS BIGINT) AS burst_fp,
        |  COALESCE((CASE WHEN COALESCE(tn, 0) > 0
        |    THEN (n * 6 * 10000) // tn END) >= 20000, FALSE) AS is_burst
        |FROM w""".stripMargin,

    // The q93 score CTE + per-source percent_rank over the same
    // (score, id) total order (rank == row_number there, so DuckDB's
    // percent_rank is exactly (rn-1)/(n-1)).
    "q136_calibrated_quality" ->
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
         |FROM sc""".stripMargin,

    // The q93 score CTE + exact per-source counts + the same pinned
    // z op sequence.
    "q203_rate_significance" ->
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
         |FROM per, t""".stripMargin,

    // The q93 score CTE + ntile over the same (score, doc_id) order
    // and the exact per-band counts.
    "q202_reliability" ->
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
         |FROM b GROUP BY 1, 2""".stripMargin,

    // The q93 score CTE on the eval slice + the minimax identity for
    // the isotonic fit: fit(i) = max_{j<=i} min_{k>=i} of the
    // floor-quantized mean of y[j..k] — an O(n²) windowed replay that
    // must equal the Spark PAV stack's pool means exactly (floor
    // commutes with max/min; // and Math.floorDiv agree at all
    // signs).
    "q192_isotonic_calibration" ->
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
         |FROM seq q JOIN fit f ON f.src = q.source AND f.rn = q.rn""".stripMargin,

    // The q93 score CTE + the naive per-source rank gate.
    "q137_source_budget" ->
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
         |SELECT doc_id, source, score, rn <= 15 AS kept FROM r""".stripMargin,

    // The q128 window spec restricted to the verified duplicates.
    "q132_neighborhood_dups" ->
      """WITH r AS (SELECT doc_id, text,
        |  row_number() OVER (ORDER BY text, doc_id) AS rn FROM documents)
        |SELECT a.doc_id AS a_id, b.doc_id AS b_id,
        |  CAST(levenshtein(substr(a.text, 1, 128), substr(b.text, 1, 128))
        |    AS INTEGER) AS lev
        |FROM r AS a JOIN r AS b ON b.rn - a.rn BETWEEN 1 AND 2
        |WHERE levenshtein(substr(a.text, 1, 128), substr(b.text, 1, 128))
        |  <= 40""".stripMargin,

    // The one-pass kernel's composition, spelled in built-ins:
    // NFC -> lower -> collapse \s+ -> trim.
    "q131_normalize_text" ->
      """WITH c AS (SELECT c_custkey,
        |  c_name || chr(9) || ' ' || c_mktsegment || '  ' ||
        |    CAST(c_acctbal AS VARCHAR) AS src FROM customer)
        |SELECT c_custkey,
        |  trim(regexp_replace(lower(nfc_normalize(src)), '\s+', ' ', 'g'))
        |    AS text_norm,
        |  trim(regexp_replace(lower(nfc_normalize(src)), '\s+', ' ', 'g'))
        |    <> src AS changed
        |FROM c""".stripMargin,

    // The q47 pair CTEs (ONE shared definition) + the integer damped
    // update unrolled three rounds — Spark's `div` and DuckDB's `//`
    // agree on the nonnegative operands, sums are exact longs.
    "q123_pagerank" -> {
      def round(i: Int): String =
        s"""c$i AS (SELECT e.dst, r${i - 1}.r // d.deg AS c
           |  FROM ed e JOIN deg d ON d.src = e.src
           |  JOIN r${i - 1} ON r${i - 1}.id = e.src),
           |r$i AS (SELECT dst AS id, 150000 + (85 * sum(c)) // 100 AS r
           |  FROM c$i GROUP BY 1)""".stripMargin
      s"""WITH ${charPairsCte(0.4)},
         |ed AS (SELECT id_a AS src, id_b AS dst FROM pairs
         |  UNION ALL SELECT id_b, id_a FROM pairs),
         |deg AS (SELECT src, count(*) AS deg FROM ed GROUP BY 1),
         |r0 AS (SELECT src AS id, CAST(1000000 AS BIGINT) AS r FROM deg),
         |${round(1)},
         |${round(2)},
         |${round(3)}
         |SELECT id AS doc_id, CAST(r AS BIGINT) AS rank_fixed
         |FROM r3""".stripMargin
    },

    // Three synchronous LPA rounds as chained CTEs over the q123 edge
    // list: the min(struct(-cnt,label)) heap is row_number over
    // (cnt DESC, label ASC) — the same heap/window equivalence the
    // green q65/q92 oracles pin.
    "q191_label_propagation" -> {
      def round(i: Int): String =
        s"""v$i AS (SELECT e.src, l${i - 1}.label, count(*) AS cnt
           |  FROM ed e JOIN l${i - 1} ON l${i - 1}.id = e.dst
           |  GROUP BY 1, 2),
           |l$i AS (SELECT src AS id, label FROM (
           |  SELECT src, label, row_number() OVER (
           |    PARTITION BY src ORDER BY cnt DESC, label ASC) AS rn
           |  FROM v$i) WHERE rn = 1)""".stripMargin
      s"""WITH ${charPairsCte(0.4)},
         |ed AS (SELECT id_a AS src, id_b AS dst FROM pairs
         |  UNION ALL SELECT id_b, id_a FROM pairs),
         |l0 AS (SELECT DISTINCT src AS id, src AS label FROM ed),
         |${round(1)},
         |${round(2)},
         |${round(3)}
         |SELECT id AS doc_id, CAST(label AS BIGINT) AS label
         |FROM l3""".stripMargin
    },

    // q191's CTE chain extended with the modularity aggregates: e_in
    // over same-label edges, degree sums per community, q_num in
    // exact BIGINT.
    "q194_modularity" -> {
      def round(i: Int): String =
        s"""v$i AS (SELECT e.src, l${i - 1}.label, count(*) AS cnt
           |  FROM ed e JOIN l${i - 1} ON l${i - 1}.id = e.dst
           |  GROUP BY 1, 2),
           |l$i AS (SELECT src AS id, label FROM (
           |  SELECT src, label, row_number() OVER (
           |    PARTITION BY src ORDER BY cnt DESC, label ASC) AS rn
           |  FROM v$i) WHERE rn = 1)""".stripMargin
      s"""WITH ${charPairsCte(0.4)},
         |ed AS (SELECT id_a AS src, id_b AS dst FROM pairs
         |  UNION ALL SELECT id_b, id_a FROM pairs),
         |l0 AS (SELECT DISTINCT src AS id, src AS label FROM ed),
         |${round(1)},
         |${round(2)},
         |${round(3)},
         |m AS (SELECT CAST(count(*) AS BIGINT) AS m FROM pairs),
         |ein AS (SELECT la.label, CAST(count(*) AS BIGINT) AS e_in
         |  FROM pairs p
         |  JOIN l3 la ON la.id = p.id_a
         |  JOIN l3 lb ON lb.id = p.id_b
         |  WHERE la.label = lb.label GROUP BY 1),
         |deg AS (SELECT src AS id, CAST(count(*) AS BIGINT) AS deg
         |  FROM ed GROUP BY 1),
         |ds AS (SELECT l3.label, CAST(count(*) AS BIGINT) AS n_nodes,
         |  CAST(sum(deg.deg) AS BIGINT) AS deg_sum
         |  FROM deg JOIN l3 ON l3.id = deg.id GROUP BY 1)
         |SELECT CAST(ds.label AS BIGINT) AS label, ds.n_nodes,
         |  CAST(COALESCE(ein.e_in, 0) AS BIGINT) AS e_in, ds.deg_sum,
         |  CAST(4 * m.m * COALESCE(ein.e_in, 0)
         |    - ds.deg_sum * ds.deg_sum AS BIGINT) AS q_num
         |FROM ds LEFT JOIN ein ON ein.label = ds.label, m""".stripMargin
    },

    // Three peel rounds as chained CTEs over the q123 edge list:
    // degree filter >= 2, then edges restricted to survivors on both
    // endpoints.
    "q195_kcore" -> {
      def peel(i: Int): String =
        s"""k$i AS (SELECT src FROM e${i - 1}
           |  GROUP BY 1 HAVING count(*) >= 2),
           |e$i AS (SELECT e.src, e.dst FROM e${i - 1} e
           |  JOIN k$i a ON a.src = e.src
           |  JOIN k$i b ON b.src = e.dst)""".stripMargin
      s"""WITH ${charPairsCte(0.4)},
         |e0 AS (SELECT id_a AS src, id_b AS dst FROM pairs
         |  UNION ALL SELECT id_b, id_a FROM pairs),
         |${peel(1)},
         |${peel(2)},
         |${peel(3)}
         |SELECT src AS doc_id, CAST(count(*) AS BIGINT) AS deg
         |FROM e3 GROUP BY 1""".stripMargin
    },

    // The q123 edge list + degree CTE, endpoint degrees joined onto
    // every mirrored edge, then q162's exact moment SQL.
    "q201_assortativity" ->
      s"""WITH ${charPairsCte(0.4)},
         |ed AS (SELECT id_a AS src, id_b AS dst FROM pairs
         |  UNION ALL SELECT id_b, id_a FROM pairs),
         |deg AS (SELECT src, CAST(count(*) AS BIGINT) AS deg
         |  FROM ed GROUP BY 1),
         |p AS (SELECT du.deg AS x, dv.deg AS y
         |  FROM ed e
         |  JOIN deg du ON du.src = e.src
         |  JOIN deg dv ON dv.src = e.dst),
         |m AS (SELECT CAST(count(*) AS BIGINT) AS n,
         |  CAST(sum(x) AS BIGINT) AS sx, CAST(sum(y) AS BIGINT) AS sy,
         |  CAST(sum(x*y) AS BIGINT) AS sxy,
         |  CAST(sum(x*x) AS BIGINT) AS sxx,
         |  CAST(sum(y*y) AS BIGINT) AS syy
         |  FROM p)
         |SELECT n AS n_endpoints,
         |  CASE WHEN n*sxx - sx*sx = 0 OR n*syy - sy*sy = 0 THEN 0
         |    ELSE CAST(round(CAST(n*sxy - sx*sy AS DOUBLE)
         |      / (sqrt(CAST(n*sxx - sx*sx AS DOUBLE))
         |        * sqrt(CAST(n*syy - sy*sy AS DOUBLE)))
         |      * 16384.0) AS BIGINT) END AS corr_code
         |FROM m""".stripMargin,

    // q123's round CTEs with the teleport restricted to the seed set:
    // seeds start at 1e6, re-teleport 150000 each round; non-seeds
    // accumulate diffused mass only.
    "q196_seed_expansion" -> {
      def round(i: Int): String =
        s"""c$i AS (SELECT e.dst, r${i - 1}.r // d.deg AS c
           |  FROM ed e JOIN deg d ON d.src = e.src
           |  JOIN r${i - 1} ON r${i - 1}.id = e.src),
           |r$i AS (SELECT dst AS id,
           |  CASE WHEN dst % 17 = 0 THEN 150000 ELSE 0 END
           |    + (85 * sum(c)) // 100 AS r
           |  FROM c$i GROUP BY 1)""".stripMargin
      s"""WITH ${charPairsCte(0.4)},
         |ed AS (SELECT id_a AS src, id_b AS dst FROM pairs
         |  UNION ALL SELECT id_b, id_a FROM pairs),
         |deg AS (SELECT src, count(*) AS deg FROM ed GROUP BY 1),
         |r0 AS (SELECT src AS id,
         |  CAST(CASE WHEN src % 17 = 0 THEN 1000000 ELSE 0 END AS BIGINT)
         |    AS r FROM deg),
         |${round(1)},
         |${round(2)},
         |${round(3)}
         |SELECT id AS doc_id, CAST(r AS BIGINT) AS rank_fixed
         |FROM r3""".stripMargin
    },

    // Stage minima as chained conditional aggregates — the strict
    // ordering (each stage strictly after the previous user minimum)
    // replayed with the same joins.
    "q121_funnel" ->
      """WITH u AS (SELECT DISTINCT user_id FROM events),
        |s1 AS (SELECT user_id, min(ts) AS t1 FROM events
        |  WHERE event_type = 'view' GROUP BY 1),
        |s2 AS (SELECT e.user_id, min(e.ts) AS t2 FROM events e
        |  JOIN s1 ON s1.user_id = e.user_id
        |  WHERE e.event_type = 'click' AND e.ts > s1.t1 GROUP BY 1),
        |s3 AS (SELECT e.user_id, min(e.ts) AS t3 FROM events e
        |  JOIN s2 ON s2.user_id = e.user_id
        |  WHERE e.event_type = 'purchase' AND e.ts > s2.t2 GROUP BY 1)
        |SELECT u.user_id,
        |  CAST(CASE WHEN t3 IS NOT NULL THEN 3
        |    WHEN t2 IS NOT NULL THEN 2
        |    WHEN t1 IS NOT NULL THEN 1 ELSE 0 END AS INTEGER) AS stage,
        |  s1.t1 AS first_view, s2.t2 AS first_click,
        |  s3.t3 AS first_purchase
        |FROM u LEFT JOIN s1 USING (user_id)
        |  LEFT JOIN s2 USING (user_id)
        |  LEFT JOIN s3 USING (user_id)""".stripMargin,

    // ISO-Monday week buckets in both engines; offsets are integer
    // day-diffs // 7 (nonnegative by construction, so floor == the
    // Spark cast-truncation).
    "q122_cohorts" ->
      """WITH fs AS (SELECT user_id,
        |    CAST(date_trunc('week', min(ts)) AS DATE) AS cohort_week
        |  FROM events GROUP BY 1),
        |act AS (SELECT e.user_id, fs.cohort_week,
        |    CAST(date_diff('day', fs.cohort_week, CAST(e.ts AS DATE)) // 7
        |      AS INTEGER) AS week_offset
        |  FROM events e JOIN fs ON fs.user_id = e.user_id)
        |SELECT cohort_week, week_offset,
        |  CAST(count(DISTINCT user_id) AS BIGINT) AS n_active
        |FROM act GROUP BY 1, 2""".stripMargin,

    // The Count-Min grid replayed cell by cell: the same FNV-1a/fmix64
    // token hash (Fnv64Sql, the q21/q93 machinery), row r's bucket as
    // its disjoint byte window of the unsigned hash — (H // 256^r) %
    // 256 on HUGEINT ≡ the Scala (h >>> 8r) & 255 — row sums as exact
    // longs, estimate = min over rows. Bit-identical grid, estimates.
    "q120_cm_freq" -> {
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
    },

    // The q114 vocabulary boundary replayed, then per-position rank
    // lookup reassembled in order — same comma-joined fixed image.
    "q119_vocab_encode" ->
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
         |FROM documents d LEFT JOIN reb r USING (doc_id)""".stripMargin,

    // Frequency-cut vocabulary replay: the same (cnt DESC, token ASC)
    // total order decides the top-100 boundary in both engines; per-
    // value arithmetic is exact longs until the one rate division.
    "q114_vocab_oov" ->
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
         |FROM documents d LEFT JOIN per p USING (doc_id)""".stripMargin,

    // The q94 gram CTE shape (array slice over token positions) at
    // n = 2, rolled up per source with exact distinct counts.
    "q115_diversity" ->
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
         |FROM ta LEFT JOIN ba USING (source)""".stripMargin,

    "q116_merge_pairs" ->
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
         |WHERE mr <= 20""".stripMargin,

    // Each leg's proven oracle nested as a CTE (DuckDB allows WITH
    // inside a CTE body), flags by id-keyed left joins — drift
    // between the stack and its constituent gates is impossible
    // because the SQL IS the constituents'.
    "q109_filter_stack" -> filterStackOracleSql,

    // q109's per-doc verdict frame rolled up to the 2^4 agreement
    // cells — which gate binds, which docs fail exactly one.
    "q166_gate_matrix" ->
      s"""SELECT rep_pass, ppl_pass, clf_pass, uniq_pass,
         |  count(*) AS n_docs
         |FROM (
         |$filterStackOracleSql
         |) GROUP BY 1, 2, 3, 4""".stripMargin,

    // The two-phase staged rank replayed by the one naive window it
    // is provably equal to (q87's md5 order, prefixed by the stage).
    "q108_curriculum" ->
      s"""WITH t AS (SELECT doc_id, ${TF.sql.tokenCount("text")}
         |    AS n_tokens FROM documents),
         |s AS (SELECT doc_id, n_tokens,
         |  CAST(length(bin(n_tokens + 1)) - 1 AS INTEGER) AS stage
         |  FROM t)
         |SELECT doc_id, n_tokens, stage,
         |  CAST(row_number() OVER (ORDER BY stage,
         |      md5('cur42:' || CAST(doc_id AS VARCHAR)), doc_id) - 1
         |    AS BIGINT) AS pos
         |FROM s""".stripMargin,

    "q64_incremental_pairs" -> incrementalPairsOracleSql,

    // The persisted-index path must reproduce q64 exactly — the
    // q77/q89 shared-oracle pattern.
    "q90_indexed_pairs" -> incrementalPairsOracleSql,

    "q49_pii_redaction" ->
      s"""SELECT doc_id, ${TF.sql.redactPii("text")} AS clean_text,
         | CAST(len(regexp_extract_all(text, '${TF.emailRe}')) AS INTEGER)
         |   AS n_emails,
         | CAST(len(regexp_extract_all(text, '${TF.ipv4Re}')) AS INTEGER)
         |   AS n_ips,
         | CAST(len(regexp_extract_all(text, '${TF.longDigitsRe}')) AS INTEGER)
         |   AS n_nums
         |FROM documents""".stripMargin,

    // The q51 hashCode-replay oracle over the documents corpus: the
    // media payload is the (ASCII) text's UTF-8 bytes, so every stub
    // feature is reproducible from the text column — see q51's oracle
    // for the arithmetic derivation.
    "q22_multimodal_decode" ->
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
        |FROM hashed""".stripMargin,

    // Replays the composed ingest→decode path: the same config-derived
    // url manifest, payloads = url ASCII bytes (Echo), and the stub
    // codec's java.util.Arrays.hashCode replayed exactly — h starts at
    // 1, each step h = (31h + byte) mod 2^32 via list_reduce; the >>10
    // / >>20 arithmetic shifts of the SIGNED hash become floor
    // divisions of the unsigned form (exact because 2^k divides 2^32),
    // with the 2^31 sign correction applied where the modulus (240)
    // does not divide 2^32.
    "q51_ingest_media" ->
      """WITH manifest AS (
        |  SELECT i AS doc_id,
        |    CASE i % 3 WHEN 0 THEN 'image' WHEN 1 THEN 'audio'
        |      ELSE 'video' END AS media_type,
        |    printf('https://cdn.example.org/media/item_%04d.%s', i,
        |      CASE i % 3 WHEN 0 THEN 'png' WHEN 1 THEN 'wav'
        |        ELSE 'mp4' END) AS url
        |  FROM range(0, 48) t(i)
        |), hashed AS (
        |  SELECT *,
        |    list_reduce(
        |      list_prepend(CAST(1 AS BIGINT),
        |        list_transform(range(1, length(url) + 1),
        |          j -> CAST(ascii(substr(url, j, 1)) AS BIGINT))),
        |      (h, b) -> (31 * h + b) % 4294967296) AS hu,
        |    CAST(length(url) AS INT) AS n_bytes
        |  FROM manifest
        |)
        |SELECT doc_id, media_type, n_bytes,
        |  sha256(url) AS checksum,
        |  CAST(64 + (hu % 1024) AS INT) AS width,
        |  CAST(64 + ((hu // 1024) % 1024) AS INT) AS height,
        |  CAST(CASE WHEN media_type = 'video'
        |    THEN 1 + ((((hu // 1048576) - 4096 *
        |      (CASE WHEN hu >= 2147483648 THEN 1 ELSE 0 END)) % 240)
        |      + 240) % 240
        |    ELSE 1 END AS INT) AS n_frames,
        |  (hu % 256) / 255.0 AS mean_intensity
        |FROM hashed""".stripMargin,

    // The q24 pair CTE + recursive reachability closure: component =
    // min id reachable through the near-dup graph.
    "q47_dup_components" ->
      s"""WITH RECURSIVE
         |${componentsCte(0.4)}
         |SELECT id, component FROM comp""".stripMargin,

    "q46_repetition" ->
      s"""WITH t AS (SELECT doc_id, ${TF.sql.tokens("text")} AS T
         |  FROM documents)
         |SELECT doc_id,
         |  CAST(len(T) AS INTEGER) AS n_tokens,
         |  CAST(len(list_distinct(T)) AS INTEGER) AS n_distinct_tokens,
         |  CASE WHEN len(T) = 0 THEN 0.0
         |       ELSE 1.0 - CAST(len(list_distinct(T)) AS DOUBLE)/len(T)
         |  END AS dup_token_ratio
         |FROM t""".stripMargin,

    // Word-shingle parity with graft.functions.exprs.WordShingles: a
    // doc shorter than k tokens contributes its whole token string as
    // the single shingle; shingles join on ' '.
    "q44_contamination" ->
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
         |FROM documents d LEFT JOIN hits h ON d.doc_id = h.doc_id""".stripMargin,

    "q45_stratified_sample" ->
      """SELECT lang, count(*) AS n_docs,
        | sum(n_chars)/count(*) AS avg_chars
        |FROM documents
        |WHERE md5(CAST(doc_id AS VARCHAR)) <
        |  CASE lang WHEN 'en' THEN '8' WHEN 'de' THEN '4'
        |            WHEN 'fr' THEN '2' ELSE '' END
        |GROUP BY 1""".stripMargin,

    // Every curation stage reproduced: token-count quality gate,
    // min-id-per-fingerprint exact dedup, the q24 n-gram Jaccard CTE at
    // threshold 0.8 for near-dup losers, then the corpus report.
    "q43_curated_corpus" ->
      s"""WITH tokc AS (SELECT doc_id, text, lang, source, n_chars,
         |  ${TF.sql.tokenCount("text")} AS n_tokens FROM documents),
         |kept AS (SELECT * FROM tokc
         |  WHERE lang = 'en' AND n_tokens BETWEEN 5 AND 100000),
         |surv AS (SELECT * FROM kept WHERE doc_id IN
         |  (SELECT min(doc_id) FROM kept
         |   GROUP BY ${TF.sql.fingerprint("text")})),
         |norm AS (SELECT doc_id,
         |  regexp_replace(lower(text), '\\s+', ' ', 'g') AS t FROM surv),
         |idx AS (SELECT doc_id, t,
         |  unnest(range(1, greatest(length(t)-4, 1)+1)) AS i FROM norm),
         |g AS (SELECT DISTINCT doc_id,
         |  CASE WHEN length(t) <= 5 THEN t
         |       ELSE substring(t, CAST(i AS INTEGER), 5) END AS ng FROM idx),
         |counts AS (SELECT doc_id, count(*) AS sz FROM g GROUP BY 1),
         |inter AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS ovl
         |  FROM g a JOIN g b ON a.ng = b.ng AND a.doc_id < b.doc_id
         |  GROUP BY 1, 2),
         |losers AS (SELECT DISTINCT id_b FROM inter
         |  JOIN counts ca ON ca.doc_id = id_a
         |  JOIN counts cb ON cb.doc_id = id_b
         |  WHERE CAST(ovl AS DOUBLE)/(ca.sz + cb.sz - ovl) >= 0.8),
         |final AS (SELECT * FROM surv
         |  WHERE doc_id NOT IN (SELECT id_b FROM losers))
         |SELECT lang, source, count(*) AS n_docs,
         |  CAST(sum(n_tokens) AS BIGINT) AS sum_tokens,
         |  sum(n_chars)/count(*) AS avg_chars
         |FROM final GROUP BY 1, 2""".stripMargin,

    // The full LSH curation chain, oracle-gated like q20: measured
    // removal recall is 1.000 at both gate scales (RECALL.md), so the
    // kept set equals the exact-join chain's with the same transitive
    // component semantics — q43's stage CTEs + the 3-word-shingle
    // pair join + q47's recursive closure.
    "q50_curation_lsh" ->
      s"""WITH RECURSIVE
         |tokc AS (SELECT doc_id, text, lang, source, n_chars,
         |  ${TF.sql.tokenCount("text")} AS n_tokens FROM documents),
         |kept AS (SELECT * FROM tokc
         |  WHERE lang = 'en' AND n_tokens BETWEEN 5 AND 100000),
         |surv AS (SELECT * FROM kept WHERE doc_id IN
         |  (SELECT min(doc_id) FROM kept
         |   GROUP BY ${TF.sql.fingerprint("text")})),
         |toks2 AS (SELECT doc_id, ${TF.sql.tokens("text")} AS T FROM surv),
         |base2 AS (SELECT doc_id, T, len(T) AS m FROM toks2),
         |idx2 AS (SELECT doc_id, T, m,
         |  unnest(range(1, greatest(m-2, 1)+1)) AS i FROM base2),
         |sh AS (SELECT DISTINCT doc_id,
         |  CASE WHEN m < 3 THEN array_to_string(T, ' ')
         |       ELSE array_to_string(
         |         list_slice(T, CAST(i AS INTEGER), CAST(i AS INTEGER)+2), ' ')
         |  END AS shingle FROM idx2),
         |counts AS (SELECT doc_id, count(*) AS sz FROM sh GROUP BY 1),
         |inter AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS ovl
         |  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
         |  GROUP BY 1, 2),
         |pairs AS (SELECT id_a, id_b FROM inter
         |  JOIN counts ca ON ca.doc_id = id_a
         |  JOIN counts cb ON cb.doc_id = id_b
         |  WHERE CAST(ovl AS DOUBLE)/(ca.sz + cb.sz - ovl) >= 0.8),
         |edges AS (SELECT id_a AS src, id_b AS dst FROM pairs
         |  UNION SELECT id_b, id_a FROM pairs),
         |reach(id, comp) AS (
         |  SELECT src, src FROM edges
         |  UNION
         |  SELECT e.dst, r.comp FROM reach r JOIN edges e ON e.src = r.id),
         |removed AS (SELECT id FROM reach GROUP BY id
         |  HAVING id <> min(comp))
         |SELECT doc_id, lang, source, n_chars FROM surv
         |WHERE doc_id NOT IN (SELECT id FROM removed)""".stripMargin,

    // Exact 3-word-shingle all-pairs ground truth (same shingle CTE
    // shape as q44/q59): LSH recall is 1.0 at gate scale, so the
    // operator's verified output equals this exactly.
    "q20_minhash_pairs" ->
      s"""WITH toks AS (SELECT doc_id, ${TF.sql.tokens("text")} AS T
         |  FROM documents),
         |base AS (SELECT doc_id, T, len(T) AS m FROM toks),
         |idx AS (SELECT doc_id, T, m,
         |  unnest(range(1, greatest(m-2, 1)+1)) AS i FROM base),
         |sh AS (SELECT DISTINCT doc_id,
         |  CASE WHEN m < 3 THEN array_to_string(T, ' ')
         |       ELSE array_to_string(
         |         list_slice(T, CAST(i AS INTEGER), CAST(i AS INTEGER)+2), ' ')
         |  END AS shingle FROM idx),
         |counts AS (SELECT doc_id, count(*) AS sz FROM sh GROUP BY 1),
         |inter AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS ovl
         |  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
         |  GROUP BY 1, 2)
         |SELECT id_a, id_b,
         |  CAST(ovl AS DOUBLE)/(ca.sz + cb.sz - ovl) AS jaccard
         |FROM inter
         |JOIN counts ca ON ca.doc_id = id_a
         |JOIN counts cb ON cb.doc_id = id_b
         |WHERE CAST(ovl AS DOUBLE)/(ca.sz + cb.sz - ovl) >= 0.3""".stripMargin,

    // Window form over the same md5 permutation (id tiebreak is
    // unreachable: md5 collisions over distinct ids don't exist at
    // test scale, and the struct ordering breaks them identically).
    "q66_grouped_sample" ->
      """SELECT lang, doc_id FROM (
        |  SELECT lang, doc_id,
        |    row_number() OVER (PARTITION BY lang
        |      ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rnk
        |  FROM documents)
        |WHERE rnk <= 20""".stripMargin,

    // Same per-row uniform (md5 first 8 hex) vs the same per-row
    // 8-digit hex cut; lexicographic == numeric on fixed-width hex.
    "q63_weighted_sample" ->
      """WITH w AS (SELECT *,
        |  least(1.0, n_chars / 400.0) AS wt FROM documents),
        |cut AS (SELECT *,
        |  lpad(lower(to_hex(CAST(least(floor(wt * 4294967296.0), 4294967295)
        |    AS BIGINT))), 8, '0') AS threshold FROM w),
        |kept AS (SELECT * FROM cut
        |  WHERE wt >= 1.0
        |     OR substring(md5(CAST(doc_id AS VARCHAR)), 1, 8) < threshold)
        |SELECT lang, count(*) AS n_docs,
        |  CAST(sum(n_chars) AS BIGINT) AS sum_chars
        |FROM kept GROUP BY 1""".stripMargin,

    "q62_sketch_rollup" ->
      """SELECT event_type, count(*) AS n_rows,
        |  count(DISTINCT user_id) AS n_distinct_est
        |FROM events GROUP BY 1""".stripMargin,

    // q43's curation CTEs reduced to the shard manifest; n_sequences
    // is ceil(shard tokens / 512) — the count the contiguous token
    // stream fills, mirroring the Spark side's formula exactly.
    "q67_dataset_build" ->
      s"""WITH tokc AS (SELECT doc_id, text, lang, source, n_chars,
         |  ${TF.sql.tokenCount("text")} AS n_tokens FROM documents),
         |kept AS (SELECT * FROM tokc
         |  WHERE lang = 'en' AND n_tokens BETWEEN 5 AND 100000),
         |surv AS (SELECT * FROM kept WHERE doc_id IN
         |  (SELECT min(doc_id) FROM kept
         |   GROUP BY ${TF.sql.fingerprint("text")})),
         |norm AS (SELECT doc_id,
         |  regexp_replace(lower(text), '\\s+', ' ', 'g') AS t FROM surv),
         |idx AS (SELECT doc_id, t,
         |  unnest(range(1, greatest(length(t)-4, 1)+1)) AS i FROM norm),
         |g AS (SELECT DISTINCT doc_id,
         |  CASE WHEN length(t) <= 5 THEN t
         |       ELSE substring(t, CAST(i AS INTEGER), 5) END AS ng FROM idx),
         |counts AS (SELECT doc_id, count(*) AS sz FROM g GROUP BY 1),
         |inter AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS ovl
         |  FROM g a JOIN g b ON a.ng = b.ng AND a.doc_id < b.doc_id
         |  GROUP BY 1, 2),
         |losers AS (SELECT DISTINCT id_b FROM inter
         |  JOIN counts ca ON ca.doc_id = id_a
         |  JOIN counts cb ON cb.doc_id = id_b
         |  WHERE CAST(ovl AS DOUBLE)/(ca.sz + cb.sz - ovl) >= 0.8),
         |final AS (SELECT * FROM surv
         |  WHERE doc_id NOT IN (SELECT id_b FROM losers))
         |SELECT doc_id % 4 AS shard, count(*) AS n_docs,
         |  CAST(sum(n_tokens) AS BIGINT) AS n_tokens,
         |  CAST((sum(n_tokens) + 511) // 512 AS BIGINT) AS n_sequences
         |FROM final GROUP BY 1""".stripMargin,

    // Same stage CTEs as q43, reduced to the per-stage survivor counts.
    "q61_curation_funnel" ->
      s"""WITH tokc AS (SELECT doc_id, text, lang, source, n_chars,
         |  ${TF.sql.tokenCount("text")} AS n_tokens FROM documents),
         |kept AS (SELECT * FROM tokc
         |  WHERE lang = 'en' AND n_tokens BETWEEN 5 AND 100000),
         |surv AS (SELECT * FROM kept WHERE doc_id IN
         |  (SELECT min(doc_id) FROM kept
         |   GROUP BY ${TF.sql.fingerprint("text")})),
         |norm AS (SELECT doc_id,
         |  regexp_replace(lower(text), '\\s+', ' ', 'g') AS t FROM surv),
         |idx AS (SELECT doc_id, t,
         |  unnest(range(1, greatest(length(t)-4, 1)+1)) AS i FROM norm),
         |g AS (SELECT DISTINCT doc_id,
         |  CASE WHEN length(t) <= 5 THEN t
         |       ELSE substring(t, CAST(i AS INTEGER), 5) END AS ng FROM idx),
         |counts AS (SELECT doc_id, count(*) AS sz FROM g GROUP BY 1),
         |inter AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS ovl
         |  FROM g a JOIN g b ON a.ng = b.ng AND a.doc_id < b.doc_id
         |  GROUP BY 1, 2),
         |losers AS (SELECT DISTINCT id_b FROM inter
         |  JOIN counts ca ON ca.doc_id = id_a
         |  JOIN counts cb ON cb.doc_id = id_b
         |  WHERE CAST(ovl AS DOUBLE)/(ca.sz + cb.sz - ovl) >= 0.8),
         |final AS (SELECT * FROM surv
         |  WHERE doc_id NOT IN (SELECT id_b FROM losers))
         |SELECT (SELECT count(*) FROM documents) AS input,
         |  (SELECT count(*) FROM documents WHERE lang = 'en') AS after_lang,
         |  (SELECT count(*) FROM kept) AS after_quality,
         |  (SELECT count(*) FROM surv) AS after_exact_dedup,
         |  (SELECT count(*) FROM final) AS after_near_dedup""".stripMargin,

    "q40_deterministic_sample" ->
      s"""SELECT o_orderpriority, count(*) AS n_orders,
         | ${Exact.sql.sumMoney("o_totalprice")} AS sum_total
         |FROM orders
         |WHERE md5(CAST(o_orderkey AS VARCHAR)) < '2'
         |GROUP BY 1""".stripMargin,

    "q41_salted_agg" ->
      """SELECT l_suppkey, count(*) AS n_items,
        | sum(l_quantity) AS sum_qty,
        | sum(round(l_extendedprice*100))/100.0 AS sum_price
        |FROM lineitem GROUP BY 1""".stripMargin,

    // IVF: centroids = 16 lowest-id vectors; every vector joins its
    // single nearest list, each query probes its 4 nearest lists; exact
    // cosine top-5 within the probed lists. Same dot-product arithmetic
    // as q19, so the sim doubles hash-match.
    "q42_ann_ivf" -> ivfOracleSql,
    // the persisted-index path is bit-identical to the inline IVF
    // (arrays of doubles round-trip parquet exactly), so it shares
    // the oracle — the gate proves persistence changed nothing
    "q77_ann_ivf_index" -> ivfOracleSql,
    "q78_ann_ivf_append" -> ivfOracleSql,

    // Same integer math as temperatureBudgets: w = floor(sqrt(supply))
    // (sqrt is correctly rounded IEEE — identical bits), budgets via
    // integral division, then q71's naive window cumsum as the
    // selection oracle.
    "q79_temperature_mixture" ->
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
         |WHERE cum_tokens - n_tokens < budget""".stripMargin,

    "q19_ann_topk" ->
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
        |  FROM scored) WHERE rnk <= 5""".stripMargin,

    // q19's all-pairs shape with every vector as a query — the exact
    // self k-NN graph; same double-cast dot-product parity, same
    // (sim DESC, id ASC) tie rule as the bounded heap's -id field.
    "q65_knn_graph" ->
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
        |  FROM scored) WHERE rnk <= 5""".stripMargin,

    // q65's all-pairs cosine generalized over a dims lateral: per-d
    // prefix slices inside the same (sim DESC, id ASC) rank law, then
    // the d=64 set is the ground truth every d intersects against.
    "q197_matryoshka" ->
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
        |FROM h, nq""".stripMargin,

    // Same fixed-point image (floor(x*1e9) longs) — exact integer
    // sums in both engines; joined to a string at the output
    // boundary (see the q53 builder note).
    "q53_label_centroids" ->
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
        |FROM n""".stripMargin,

    "q54_scd2_history" ->
      """WITH flagged AS (
        |  SELECT user_id, event_type, ts, event_id,
        |    lag(event_type) OVER w AS prev_type,
        |    (lag(ts) OVER w IS NULL) AS first_obs
        |  FROM events
        |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
        |changes AS (
        |  SELECT * FROM flagged
        |  WHERE first_obs OR prev_type IS DISTINCT FROM event_type)
        |SELECT user_id, event_type,
        |  ts AS effective_from,
        |  lead(ts) OVER w2 AS effective_to,
        |  (lead(ts) OVER w2 IS NULL) AS is_current
        |FROM changes
        |WINDOW w2 AS (PARTITION BY user_id ORDER BY ts, event_id)""".stripMargin,

    // Brute-force all-pairs ground truth (the blocking must lose
    // nothing): length filter is implied by dist <= 2.
    "q55_fuzzy_join" ->
      """WITH t AS (SELECT doc_id, substr(text, 1, 48) AS title FROM documents)
        |SELECT a.doc_id AS id_a, b.doc_id AS id_b,
        |  CAST(levenshtein(a.title, b.title) AS INTEGER) AS dist
        |FROM t a JOIN t b
        |  ON a.doc_id < b.doc_id
        |  AND abs(len(a.title) - len(b.title)) <= 2
        |WHERE levenshtein(a.title, b.title) <= 2""".stripMargin,

    // Manual CASE pivot; nullif(·, 0) reproduces Spark's NULL for an
    // empty (year × priority) cell exactly.
    "q68_pivot" -> {
      val cells = orderPriorities.map { p =>
        val cond = s"CASE WHEN o_orderpriority = '$p' THEN o_totalprice END"
        s"""nullif(count(CASE WHEN o_orderpriority = '$p' THEN 1 END), 0)
           |    AS "${p}_n",
           |  ${Exact.sql.sumMoney(cond)} AS "${p}_rev"""".stripMargin
      }.mkString(",\n  ")
      s"""SELECT CAST(year(o_orderdate) AS INTEGER) AS o_year,
         |  $cells
         |FROM orders GROUP BY 1""".stripMargin
    },

    // UNION-ALL long form of the same measures.
    "q69_unpivot" ->
      s"""WITH w AS (SELECT CAST(year(o_orderdate) AS INTEGER) AS o_year,
         |  CAST(count(*) AS DOUBLE) AS n_orders,
         |  ${Exact.sql.sumMoney("o_totalprice")} AS revenue,
         |  ${Exact.sql.avgMoney("o_totalprice")} AS avg_price
         |FROM orders GROUP BY 1)
         |SELECT o_year, 'n_orders' AS metric, n_orders AS value FROM w
         |UNION ALL SELECT o_year, 'revenue', revenue FROM w
         |UNION ALL SELECT o_year, 'avg_price', avg_price FROM w""".stripMargin,

    // Naive theta-join ground truth for the bin-blocked range join.
    "q56_range_join" ->
      """WITH e AS (
        |  SELECT event_id, user_id, event_type, epoch_us(ts) AS t FROM events)
        |SELECT p.event_id AS purchase_id, c.event_id AS click_id,
        |  p.t - c.t AS gap_micros
        |FROM e p JOIN e c ON p.user_id = c.user_id
        |WHERE p.event_type = 'purchase' AND c.event_type = 'click'
        |  AND c.t >= p.t - 3600000000 AND c.t < p.t""".stripMargin,

    // Window-form ground truth: struct ordering = (price, orderkey)
    // lexicographic descending.
    "q57_grouped_topk" ->
      """SELECT o_orderpriority, CAST(rnk AS INTEGER) AS rank,
        |  o_orderkey, o_totalprice
        |FROM (
        |  SELECT o_orderpriority, o_orderkey, o_totalprice,
        |    row_number() OVER (PARTITION BY o_orderpriority
        |      ORDER BY o_totalprice DESC, o_orderkey DESC) AS rnk
        |  FROM orders)
        |WHERE rnk <= 3""".stripMargin,

    // The same per-shard cumulative layout in window form. Casts pin
    // BIGINT against pandas dtype skew (sum-over-window is HUGEINT).
    "q60_sequence_pack" ->
      s"""WITH t AS (SELECT doc_id, doc_id % 8 AS shard,
         |  ${TF.sql.tokenCount("text")} AS n FROM documents)
         |SELECT doc_id, shard, CAST(n AS BIGINT) AS n_tokens,
         |  CAST(coalesce(sum(n) OVER (PARTITION BY shard ORDER BY doc_id
         |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
         |    AS start,
         |  CAST(coalesce(sum(n) OVER (PARTITION BY shard ORDER BY doc_id
         |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
         |    // 512 AS seq_id,
         |  CAST(coalesce(sum(n) OVER (PARTITION BY shard ORDER BY doc_id
         |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
         |    % 512 AS offset_in_seq
         |FROM t""".stripMargin,

    // Same shingle CTE as q44; count(*) per shingle = carrier docs
    // because the per-doc shingle sets are DISTINCT.
    "q59_shared_shingles" ->
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
         |GROUP BY 1""".stripMargin,

    // Same ratio-of-integer-sums score; list_zip builds the bigram
    // stream the Spark side gets from zip_with over token slices.
    "q70_lm_quality" ->
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
         |GROUP BY 1""".stripMargin,

    // Naive window-cumsum ground truth for the two-phase mixture cut;
    // the budget CASE is generated from the same mixtureBudgets map
    // the Spark query consumes.
    "q71_token_mixture" ->
      s"""WITH t AS (SELECT doc_id, source,
         |  ${TF.sql.tokenCount("text")} AS n_tokens,
         |  md5(CAST(doc_id AS VARCHAR)) AS u FROM documents),
         |c AS (SELECT *, CAST(sum(n_tokens) OVER
         |  (PARTITION BY source ORDER BY u, doc_id) AS BIGINT)
         |  AS cum_tokens FROM t)
         |SELECT doc_id, source, n_tokens, cum_tokens FROM c
         |WHERE cum_tokens - n_tokens < CASE source ${
               mixtureBudgets.toSeq.sorted.map { case (k, v) =>
                 s"WHEN '$k' THEN $v" }.mkString(" ")} ELSE -1 END""".stripMargin,

    // Round-trip identity: the JSONL write→read must reproduce the
    // source rows exactly.
    "q72_jsonl_roundtrip" ->
      "SELECT doc_id, text, lang, source, n_chars FROM documents",

    // Round-trip identity again, over the ORC write→read.
    "q167_orc_roundtrip" ->
      "SELECT doc_id, text, lang, source, n_chars FROM documents",

    // The bit-interleave replayed term by term (ZOrder.zValueSql is
    // the shared expansion), then the same bucket group-by and the
    // same bbox-overlap pruning test.
    "q168_zorder_skip" ->
      s"""WITH e AS (SELECT user_id % 256 AS x,
         |  datediff('day', DATE '1970-01-01', CAST(ts AS DATE)) % 256 AS y
         |  FROM events),
         |z AS (SELECT x, y,
         |  ${graft.ops.ZOrder.zValueSql("x", "y", 8)} AS z FROM e),
         |b AS (SELECT z >> 8 AS bucket, CAST(count(*) AS BIGINT) AS n_rows,
         |  min(x) AS min_x, max(x) AS max_x,
         |  min(y) AS min_y, max(y) AS max_y FROM z GROUP BY 1)
         |SELECT bucket, n_rows, min_x, max_x, min_y, max_y,
         |  (max_x >= 32 AND min_x <= 63 AND max_y >= 16 AND min_y <= 23)
         |    AS touched
         |FROM b""".stripMargin,

    // Exact integer OLS moments; every sum cast down from DuckDB's
    // HUGEINT before the moment algebra so both engines combine
    // BIGINTs.
    "q169_trend_ols" ->
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
        |FROM m""".stripMargin,

    // q135's hourly bin + zero-filled span densify (range is
    // end-exclusive, matching Spark's inclusive sequence(lo,hi)) +
    // the lag-24 self-join + q162's exact-moment Pearson.
    "q193_autocorr" ->
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
        |FROM m""".stripMargin,

    // q169's daily CTE + the zero-filled span + the integer CUSUM
    // argmax (dev DESC, t ASC) and the same fixed-point means.
    "q199_changepoint" ->
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
        |FROM best""".stripMargin,

    // q199's daily + densify CTEs, zero-run islands via day − rn.
    "q204_coverage" ->
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
        |GROUP BY 1""".stripMargin,

    // Same rank formula: groups sorted (measure ASC, name ASC), the
    // weighted sum and both divisor factors exact.
    "q200_gini_concentration" ->
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
         |FROM r""".stripMargin,

    // One row per CHARACTER, histogram per doc, then the whole-bit
    // proxy: floor(log2 n) = length(bin(n)) - 1 — the same integer
    // the kernel's numberOfLeadingZeros form computes.
    "q170_entropy_gate" ->
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
        |WHERE d.text IS NOT NULL""".stripMargin,

    // The bucketed layout must change no answer: the oracle is the
    // plain join over the source tables.
    "q171_bucketed_join" ->
      s"""SELECT c_mktsegment, count(*) AS n_orders,
         |  ${Exact.sql.sumMoney("o_totalprice")} AS sum_price
         |FROM orders JOIN customer ON o_custkey = c_custkey
         |GROUP BY 1""".stripMargin,

    // q128's window self-join candidates + the same four agreement
    // predicates and pinned weights (NULL agreement takes the
    // disagree branch in both engines' CASE).
    "q172_linkage_score" ->
      """WITH r AS (SELECT doc_id, text, lang, source, n_chars,
        |  row_number() OVER (ORDER BY text, doc_id) AS rn
        |  FROM documents WHERE text IS NOT NULL),
        |p AS (SELECT a.doc_id AS a_id, b.doc_id AS b_id,
        |  levenshtein(substr(a.text, 1, 48), substr(b.text, 1, 48)) <= 2
        |    AS title_agree,
        |  (a.lang = b.lang) AS lang_agree,
        |  (a.source = b.source) AS source_agree,
        |  (abs(a.n_chars - b.n_chars) <= 16) AS len_agree
        |  FROM r AS a JOIN r AS b ON b.rn - a.rn BETWEEN 1 AND 2),
        |sc AS (SELECT *, CAST(
        |  (CASE WHEN title_agree THEN 22 ELSE -6 END) +
        |  (CASE WHEN lang_agree THEN 14 ELSE -3 END) +
        |  (CASE WHEN source_agree THEN 9 ELSE -2 END) +
        |  (CASE WHEN len_agree THEN 5 ELSE -4 END) AS BIGINT) AS score
        |  FROM p)
        |SELECT a_id, b_id, title_agree, lang_agree, source_agree,
        |  len_agree, score, (score >= 20) AS is_match
        |FROM sc""".stripMargin,

    // merge(state(hist), state(batch)) must equal the from-scratch
    // aggregate — the oracle IS that from-scratch side.
    "q173_agg_state_merge" ->
      """SELECT event_type, CAST(count(*) AS BIGINT) AS n,
        |  CAST(sum(CAST(round(value*100) AS BIGINT)) AS BIGINT) AS sum_v,
        |  min(CAST(round(value*100) AS BIGINT)) AS min_v,
        |  max(CAST(round(value*100) AS BIGINT)) AS max_v
        |FROM events GROUP BY 1""".stripMargin,

    // The seeded-md5 uniform (q87/q164 discipline) through the SAME
    // pinned Poisson thresholds (Bootstrap.weightCaseSql), the same
    // exact moments, the same div.
    "q174_bootstrap_means" ->
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
         |FROM m""".stripMargin,

    // The SCD2 period build replayed with lag/lead (event_id is the
    // tie for colliding timestamps, same as the Spark order), then
    // the covering-period predicate at the frozen instant.
    "q175_scd_asof" ->
      """WITH o AS (SELECT user_id, event_id, ts, event_type,
        |  lag(event_type) OVER (PARTITION BY user_id
        |    ORDER BY ts, event_id) AS prev FROM events),
        |ch AS (SELECT user_id, event_id, ts, event_type FROM o
        |  WHERE prev IS NULL OR prev <> event_type),
        |v AS (SELECT user_id, event_type, ts AS effective_from,
        |  lead(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
        |    AS effective_to FROM ch)
        |SELECT user_id, event_type, effective_from FROM v
        |WHERE effective_from <= TIMESTAMP '2024-01-15 00:00:00'
        |  AND (effective_to IS NULL
        |    OR effective_to > TIMESTAMP '2024-01-15 00:00:00')""".stripMargin,

    // The evolved columns are NULL exactly where the early epoch
    // (even doc_ids) predates them.
    "q176_schema_evolution" ->
      """SELECT doc_id, text, lang,
        |  CASE WHEN doc_id % 2 = 0 THEN NULL ELSE source END AS source,
        |  CASE WHEN doc_id % 2 = 0 THEN NULL ELSE n_chars END AS n_chars
        |FROM documents""".stripMargin,

    // The q93/q162 score CTE + doubled-midrank windows + the exact
    // rank-sum; every HUGEINT sum cast down before the algebra.
    "q180_auc" ->
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
         |FROM m""".stripMargin,

    // Same score CTE, conditional cell counts, the same guarded divs.
    "q181_confusion" ->
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
         |FROM c""".stripMargin,

    // The pairwise-slope join replayed; integer division truncates
    // toward zero in BOTH engines (verified on negatives), and the
    // lower median is the same (slope, dx, dy)-ranked crossing.
    "q178_theil_sen" ->
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
        |FROM r WHERE rn = (n_pairs + 1) // 2""".stripMargin,

    // Same seeded-md5 folds, same frozen prior code, same exact
    // smoothing arithmetic.
    "q179_target_encode" ->
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
        |FROM pf JOIN pc ON pc.source = pf.source""".stripMargin,

    // Gaps-and-islands with the session_window law: a gap STRICTLY
    // longer than 30 min starts a new session (an event exactly AT
    // the previous end still merges — SessionWindowSpec pins this
    // boundary); end = last + gap.
    "q177_session_window" ->
      """WITH o AS (SELECT user_id, ts,
        |  CASE WHEN lag(ts) OVER (PARTITION BY user_id ORDER BY ts)
        |      IS NULL
        |    OR ts - lag(ts) OVER (PARTITION BY user_id ORDER BY ts)
        |      > INTERVAL 30 MINUTE THEN 1 ELSE 0 END AS brk
        |  FROM events),
        |g AS (SELECT user_id, ts, sum(brk) OVER (PARTITION BY user_id
        |  ORDER BY ts ROWS UNBOUNDED PRECEDING) AS sid FROM o),
        |s AS (SELECT user_id, sid, min(ts) AS session_start,
        |  max(ts) + INTERVAL 30 MINUTE AS session_end,
        |  CAST(count(*) AS BIGINT) AS n_events
        |  FROM g GROUP BY 1, 2)
        |SELECT user_id, session_start, session_end, n_events
        |FROM s""".stripMargin,

    // Positional shingle cover + token-level rewrite, replayed with
    // DuckDB list ops (same m<5 whole-doc convention as q44's CASE).
    "q73_span_removal" ->
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
         |WHERE b.doc_id % 97 <> 0""".stripMargin,

    // q73's positional replay with the probe set derived from the
    // corpus itself: shingles carried by ≥2 distinct docs, scrubbed
    // everywhere except the min-doc_id keeper.
    "q80_crossdoc_scrub" ->
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
         |FROM base b LEFT JOIN cova a USING (doc_id)""".stripMargin,

    // Oracle built by the operator itself (CrossDoc) so the split
    // rule, keeper policy, and reassembly cannot drift.
    "q95_shared_line_dedup" ->
      graft.text.CrossDoc.removeSharedLinesOracleSql(
        "documents", "doc_id", "text"),

    // q47's closure + the md5-cut CASE from the SAME declaration the
    // Spark operator renders (Splits.hexCut — literals cannot drift).
    "q81_leakage_split" ->
      s"""WITH RECURSIVE
         |${componentsCte(0.4)},
         |grp AS (SELECT d.doc_id,
         |  CAST(coalesce(c.component, d.doc_id) AS VARCHAR) AS grp
         |  FROM documents d LEFT JOIN comp c ON c.id = d.doc_id)
         |SELECT doc_id, grp,
         |  ${graft.ops.Splits.sql.splitCase("grp", splitFractions)} AS split
         |FROM grp""".stripMargin,

    // The pair CTE labeled with each endpoint's source, unordered
    // pair normalized by least/greatest — the same matrix the Spark
    // side reads off the persisted graph.
    "q82_source_overlap" ->
      s"""WITH ${charPairsCte(0.4)},
         |ps AS (SELECT least(sa.source, sb.source) AS src_a,
         |    greatest(sa.source, sb.source) AS src_b
         |  FROM pairs
         |  JOIN norm sa ON sa.doc_id = id_a
         |  JOIN norm sb ON sb.doc_id = id_b)
         |SELECT src_a, src_b, count(*) AS n_dup_pairs
         |FROM ps GROUP BY 1, 2""".stripMargin,

    // q19's arithmetic with the corpus pre-filtered to English docs;
    // probes stay the unfiltered vec_id < 8 set.
    "q83_filtered_ann" ->
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
        |  FROM scored) WHERE rnk <= 5""".stripMargin,

    // The bloom is a performance device only — the gate's OUTPUT is
    // the plain fingerprint anti-join, which is exactly this.
    "q84_bloom_gate" ->
      s"""WITH corpus AS (SELECT ${TF.sql.fingerprint("text")} AS fp
         |  FROM documents),
         |batch AS (
         |  SELECT doc_id, text FROM documents WHERE doc_id < 100
         |  UNION ALL
         |  SELECT doc_id + 10000, text || ' fresh' FROM documents
         |  WHERE doc_id >= 400),
         |b AS (SELECT doc_id, ${TF.sql.fingerprint("text")} AS fp FROM batch)
         |SELECT doc_id, fp FROM b
         |WHERE fp NOT IN (SELECT fp FROM corpus)""".stripMargin,

    // The summary is a narrowing device only — the gate's OUTPUT is
    // the plain frequency HAVING, which is exactly this.
    "q85_heavy_hitters" ->
      """WITH t AS (SELECT unnest(string_split(text, ' ')) AS tok
        |  FROM documents),
        |tk AS (SELECT tok FROM t WHERE tok <> '')
        |SELECT tok, CAST(count(*) AS BIGINT) AS cnt FROM tk
        |GROUP BY tok
        |HAVING count(*) >= greatest(1, (SELECT count(*) FROM tk) // 500)"""
        .stripMargin,

    // Hot/cold routing is semantics-neutral — the output is the plain
    // join over the same declared key pooling.
    "q86_hotcold_join" ->
      """WITH big AS (SELECT
        |  CASE WHEN o_custkey % 10 = 0 THEN 0 ELSE o_custkey END AS k,
        |  o_orderkey, o_totalprice FROM orders),
        |dim AS (SELECT c_custkey AS k, c_name FROM customer
        |  WHERE c_custkey % 10 <> 0
        |  UNION ALL SELECT 0, 'pooled')
        |SELECT k, o_orderkey, o_totalprice, c_name
        |FROM big JOIN dim USING (k)""".stripMargin,

    // The naive single-window rank IS the semantics; the Spark side
    // computes it bucketed. Same md5 text, same tiebreak.
    "q87_corpus_shuffle" ->
      """WITH r AS (SELECT doc_id,
        |  row_number() OVER (
        |    ORDER BY md5('shuf42:' || CAST(doc_id AS VARCHAR)), doc_id)
        |  - 1 AS pos FROM documents)
        |SELECT doc_id, CAST(pos AS BIGINT) AS pos,
        |  CAST(pos % 8 AS BIGINT) AS shard FROM r""".stripMargin,

    // q87's permutation feeding q60's packing arithmetic — one window
    // chain, all-integer.
    "q88_shuffled_pack" ->
      s"""WITH r AS (SELECT doc_id, text,
         |  row_number() OVER (
         |    ORDER BY md5('pack7:' || CAST(doc_id AS VARCHAR)), doc_id)
         |  - 1 AS pos FROM documents),
         |t AS (SELECT doc_id, pos, pos % 4 AS shard,
         |  ${TF.sql.tokenCount("text")} AS n FROM r)
         |SELECT doc_id, CAST(pos AS BIGINT) AS pos,
         |  CAST(shard AS BIGINT) AS shard, CAST(n AS BIGINT) AS n_tokens,
         |  CAST(coalesce(sum(n) OVER w, 0) AS BIGINT) AS start,
         |  CAST(coalesce(sum(n) OVER w, 0) AS BIGINT) // 512 AS seq_id,
         |  CAST(coalesce(sum(n) OVER w, 0) AS BIGINT) % 512
         |    AS offset_in_seq
         |FROM t WINDOW w AS (PARTITION BY shard ORDER BY pos
         |  ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)"""
        .stripMargin,

    // EXACTLY q47's oracle: corpus-only components + batch delta
    // pairs folded incrementally must equal the from-scratch closure
    // over the whole corpus (the q77/q52 shared-oracle pattern —
    // different computation, bit-identical result).
    "q89_incremental_components" ->
      s"""WITH RECURSIVE
         |${componentsCte(0.4)}
         |SELECT id, component FROM comp""".stripMargin,

    // The window form of the bounded-heap argmax: same family closure,
    // same (n_tokens DESC, id ASC) survivor order.
    "q91_canonical_docs" ->
      s"""WITH RECURSIVE
         |${componentsCte(0.4)},
         |t AS (SELECT c.component, c.id, ${TF.sql.tokenCount("text")}
         |    AS n_tokens
         |  FROM comp c JOIN documents d ON d.doc_id = c.id),
         |r AS (SELECT component, id, n_tokens,
         |  row_number() OVER (PARTITION BY component
         |    ORDER BY n_tokens DESC, id ASC) AS rnk,
         |  count(*) OVER (PARTITION BY component) AS n_members
         |  FROM t)
         |SELECT component, id AS canonical_id, n_tokens,
         |  CAST(n_members AS BIGINT) AS n_members
         |FROM r WHERE rnk = 1""".stripMargin,

    // charPairs' norm/gram/count CTEs, intersections mirrored into
    // both directions, the rational predicate on the inner size.
    "q207_containment" ->
      """WITH norm AS (SELECT doc_id,
        |  regexp_replace(lower(text), '\s+', ' ', 'g') AS t
        |  FROM documents WHERE text IS NOT NULL),
        |idx AS (SELECT doc_id, t,
        |  unnest(range(1, greatest(length(t)-4, 1)+1)) AS i FROM norm),
        |g AS (SELECT DISTINCT doc_id,
        |  CASE WHEN length(t) <= 5 THEN t
        |       ELSE substring(t, CAST(i AS INTEGER), 5) END AS ng FROM idx),
        |counts AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS sz
        |  FROM g GROUP BY 1),
        |inter AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b,
        |  CAST(count(*) AS BIGINT) AS ovl
        |  FROM g a JOIN g b ON a.ng = b.ng AND a.doc_id < b.doc_id
        |  GROUP BY 1, 2),
        |dird AS (SELECT id_a AS inner_id, id_b AS outer_id, ovl FROM inter
        |  UNION ALL SELECT id_b, id_a, ovl FROM inter)
        |SELECT d.inner_id, d.outer_id, c.sz AS sz_inner, d.ovl,
        |  CAST(d.ovl * 1000000 // c.sz AS BIGINT) AS containment_fp
        |FROM dird d JOIN counts c ON c.doc_id = d.inner_id
        |WHERE d.inner_id < 50 AND d.ovl * 5 >= 4 * c.sz""".stripMargin,

    // q207's gram CTEs + the capped df-rarest prefix replayed
    // verbatim (row_number over (df ASC, ng ASC) — a total order per
    // doc since grams are DISTINCT — cut at least(exact prefix, 32)),
    // candidates from prefix-vs-full-gram-index, exact intersection
    // counts on candidates only. Bit-exact twin of the Spark side's
    // candidate rule: the compare never depends on sketch recall.
    "q208_containment_corpus" ->
      s"""WITH $containmentCorpusCtes
         |SELECT i.inner_id, i.outer_id, c.sz AS sz_inner, i.ovl,
         |  CAST(i.ovl * 1000000 // c.sz AS BIGINT) AS containment_fp
         |FROM inter i JOIN counts c ON c.doc_id = i.inner_id
         |WHERE i.ovl * 5 >= 3 * c.sz""".stripMargin,

    // q208's pipeline + the keep-superset drop rule (size ties keep
    // the smaller id), anti-joined back to the textual corpus.
    "q209_excerpt_scrub" ->
      s"""WITH $containmentCorpusCtes,
         |base AS (SELECT i.inner_id, i.outer_id, c.sz AS sz_inner
         |  FROM inter i JOIN counts c ON c.doc_id = i.inner_id
         |  WHERE i.ovl * 5 >= 3 * c.sz),
         |losers AS (SELECT DISTINCT b.inner_id
         |  FROM base b JOIN counts c2 ON c2.doc_id = b.outer_id
         |  WHERE b.sz_inner < c2.sz
         |     OR (b.sz_inner = c2.sz AND b.inner_id > b.outer_id))
         |SELECT d.doc_id FROM documents d
         |WHERE d.text IS NOT NULL
         |  AND d.doc_id NOT IN (SELECT inner_id FROM losers)""".stripMargin,

    // q208's select over the word-shingle head — the tail CTEs are
    // the same factored text, so the candidate rule cannot drift.
    "q210_containment_words" ->
      s"""WITH $containmentWordCtes
         |SELECT i.inner_id, i.outer_id, c.sz AS sz_inner, i.ovl,
         |  CAST(i.ovl * 1000000 // c.sz AS BIGINT) AS containment_fp
         |FROM inter i JOIN counts c ON c.doc_id = i.inner_id
         |WHERE i.ovl * 5 >= 3 * c.sz""".stripMargin,

    // The q91 family closure folded to corpus totals: removable =
    // family tokens minus the best member's, over the corpus sum.
    "q206_dedup_savings" ->
      s"""WITH RECURSIVE
         |${componentsCte(0.4)},
         |t AS (SELECT c.component, ${TF.sql.tokenCount("text")} AS n
         |  FROM comp c JOIN documents d ON d.doc_id = c.id),
         |fam AS (SELECT component, CAST(sum(n) AS BIGINT) AS ft,
         |    CAST(max(n) AS BIGINT) AS kt, CAST(count(*) AS BIGINT) AS m
         |  FROM t GROUP BY 1),
         |fa AS (SELECT CAST(count(*) AS BIGINT) AS n_families,
         |  CAST(COALESCE(sum(m), 0) AS BIGINT) AS n_dup_docs,
         |  CAST(COALESCE(sum(ft - kt), 0) AS BIGINT) AS tokens_removable
         |  FROM fam),
         |tot AS (SELECT CAST(count(*) AS BIGINT) AS n_docs,
         |  CAST(sum(${TF.sql.tokenCount("text")}) AS BIGINT)
         |    AS tokens_total
         |  FROM documents WHERE text IS NOT NULL)
         |SELECT tot.n_docs, fa.n_families, fa.n_dup_docs,
         |  tot.tokens_total, fa.tokens_removable,
         |  CAST(CASE WHEN tot.tokens_total > 0
         |    THEN fa.tokens_removable * 1000000 // tot.tokens_total
         |  END AS BIGINT) AS savings_fp
         |FROM tot, fa""".stripMargin,

    // Naive window form + per-domain supply totals; integer division
    // keeps every epoch count exact on both engines.
    "q74_epoch_mixture" ->
      s"""WITH t AS (SELECT doc_id, source,
         |  ${TF.sql.tokenCount("text")} AS n_tokens,
         |  md5(CAST(doc_id AS VARCHAR)) AS u FROM documents),
         |tot AS (SELECT source, CAST(sum(n_tokens) AS BIGINT) AS supply
         |  FROM t GROUP BY 1),
         |c AS (SELECT *, CAST(sum(n_tokens) OVER
         |  (PARTITION BY source ORDER BY u, doc_id) AS BIGINT) AS cum
         |  FROM t),
         |j AS (SELECT c.*, tot.supply,
         |  CASE c.source ${epochBudgets.toSeq.sorted.map { case (k, v) =>
               s"WHEN '$k' THEN $v" }.mkString(" ")} ELSE -1 END AS b
         |  FROM c JOIN tot USING (source))
         |SELECT doc_id, source, n_tokens,
         |  CAST(b // supply + CASE WHEN cum - n_tokens < b % supply
         |    THEN 1 ELSE 0 END AS BIGINT) AS n_epochs
         |FROM j
         |WHERE b >= 0 AND b // supply +
         |  CASE WHEN cum - n_tokens < b % supply THEN 1 ELSE 0 END >= 1
         |""".stripMargin,

    // Same per-element arithmetic: one division, one ties-away round,
    // exact micro-unit error — hash-identical across engines.
    "q75_quantize_int8" ->
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
        |FROM qv""".stripMargin,

    // The int8 ranking replayed end to end: q75's per-element
    // quantization (same scale/round arithmetic, hash-proven there),
    // then EXACT integer dot products and norms — the only doubles are
    // one sqrt/multiply/divide per (query, candidate), each a single
    // correctly-rounded IEEE op in both engines. Ties (sim DESC,
    // id ASC) match the Spark window exactly.
    "q76_ann_int8" ->
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
        |  FROM scored) WHERE rnk <= 5""".stripMargin,
  )
}
