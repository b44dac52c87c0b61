package graft
package queries

import org.apache.spark.sql.functions._
import graft.dedup.Dedup
import graft.text.{TextFunctions => TF}

/** Near-duplicate and curation queries: MinHash, SimHash and exact
  * n-gram pair engines, the persisted pair graph and its components,
  * incremental and containment gates — [[graft.dedup]]. */
object DedupQueries {
  import Tables._
  import Shared.{splitFractions, Fnv64Sql}
  import Builds.{pairGraphTable, baseComponentsTable, prefixIndexTable}

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

  /** Shared oracle fragment: the exact 5-char-ngram near-dup pair
    * CTEs over `documents` at `threshold` — the DuckDB twin of the
    * materialized pair graph ([[Builds.pairGraphTable]]). Ends with `pairs
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

  /** The 64 SimHash signature bits reconstruct by sign of the per-bit
    * vote sums over [[Shared.Fnv64Sql.tokHash]], exactly as the Spark
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

  val specs: Seq[QuerySpec] = Seq(
    // Fingerprint dedup groups (normalized-content MD5).
    QuerySpec("q14_fingerprint_groups")((s, dir) =>
      Dedup.exactGroups(documents(s, dir), "doc_id", "text"))(
      s"""SELECT ${TF.sql.fingerprint("text")} AS fp,
         | min(doc_id) AS keep_id, count(*) AS n_docs
         |FROM documents GROUP BY 1""".stripMargin),

    // Exact dedup survivors (left-semi against min-id-per-group).
    QuerySpec("q15_exact_dedup")((s, dir) =>
      Dedup.exactDedup(documents(s, dir), "doc_id", "text")
        .select(col("doc_id"), col("lang"), col("source"), col("n_chars")))(
      s"""SELECT doc_id, lang, source, n_chars FROM documents
         |WHERE doc_id IN (SELECT min(doc_id) FROM documents
         |  GROUP BY ${TF.sql.fingerprint("text")})""".stripMargin),

    // MinHash-LSH near-dup pairs, oracle-gated against the EXACT
    // word-shingle all-pairs join: at the gate scales with pinned
    // seeds the banding recalls every true pair (RECALL.md 1.000/1.000
    // both scales) and the emitted jaccard is the exact verified set
    // Jaccard, so LSH output ≡ ground truth and the oracle holds —
    // AND the gate now fails loudly if a banding change ever loses a
    // pair (stricter than RecallSpec's 0.8 floor). The est_jaccard
    // minhash diagnostic stays on the operator, but not in the
    // declared surface (hash seeds aren't SQL-reproducible).
    QuerySpec("q20_minhash_pairs")((s, dir) =>
      Dedup.minhashPairs(documents(s, dir), "doc_id", "text",
          shingleK = 3, nHashes = 16, bands = 4, minJaccard = 0.3)
        .select(col("id_a"), col("id_b"), col("jaccard")))(
      // Exact 3-word-shingle all-pairs ground truth (same shingle CTE
      // shape as q44/q59): LSH recall is 1.0 at gate scale, so the
      // operator's verified output equals this exactly.
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
         |WHERE CAST(ovl AS DOUBLE)/(ca.sz + cb.sz - ovl) >= 0.3""".stripMargin),

    // SimHash near-dups, FULLY oracle-gated since r7: the chunk
    // pigeonhole is EXACT for Hamming <= maxHamming whenever no chunk
    // bucket floods (none can at gate scale), and the per-token hash
    // is deliberately SQL-replayable (FNV-1a-64 over codepoints +
    // murmur3 fmix64 — see SimHash64), so the DuckDB side recomputes
    // every 64-bit signature bit-for-bit and brute-forces the pair set.
    QuerySpec("q21_simhash_pairs")((s, dir) =>
      Dedup.simhashPairs(documents(s, dir), "doc_id", "text", maxHamming = 3))(
      // Chunk pigeonholing is exact below the flood cap, and the token
      // hash is SQL-replayable by design — the oracle brute-forces every
      // signature and pair (see simhashPairsOracleSql).
      simhashPairsOracleSql),

    // EXACT n-gram Jaccard self-join via rarest-first prefix filtering
    // (AllPairs/PPJoin shape) — oracle-checkable against a DuckDB
    // all-pairs join with no prefix filter, proving the filter dropped
    // nothing.
    QuerySpec("q24_ngram_jaccard_pairs")((s, dir) =>
      Dedup.exactNgramJaccardPairs(documents(s, dir), "doc_id", "text",
        n = 5, threshold = 0.4))(
      // All-pairs exact n-gram Jaccard — the DuckDB side has no prefix
      // filter (it brute-forces the token join), so matching it proves
      // the Spark prefix filter dropped nothing.
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
        |WHERE CAST(ovl AS DOUBLE)/(ca.sz + cb.sz - ovl) >= 0.4""".stripMargin),

    // EXACT edit-distance self-join (fuzzy entity matching) over
    // 48-char document-title prefixes: PassJoin segment-pigeonhole
    // blocking (dedup.FuzzyJoin — recall 1.0 structural, equi-join
    // candidates, id-only pair exchange, levenshtein-verified). The
    // oracle recomputes the same pairs as a brute-force all-pairs
    // join — exactness proven cross-engine, like q24 for Jaccard.
    QuerySpec("q55_fuzzy_join")((s, dir) =>
      graft.dedup.FuzzyJoin.editDistancePairs(
        documents(s, dir).select(col("doc_id"),
          substring(col("text"), 1, 48).as("title")),
        "doc_id", "title", maxDist = 2))(
      // Brute-force all-pairs ground truth (the blocking must lose
      // nothing): length filter is implied by dist <= 2.
      """WITH t AS (SELECT doc_id, substr(text, 1, 48) AS title FROM documents)
        |SELECT a.doc_id AS id_a, b.doc_id AS id_b,
        |  CAST(levenshtein(a.title, b.title) AS INTEGER) AS dist
        |FROM t a JOIN t b
        |  ON a.doc_id < b.doc_id
        |  AND abs(len(a.title) - len(b.title)) <= 2
        |WHERE levenshtein(a.title, b.title) <= 2""".stripMargin),

    // Incremental EXACT similarity maintenance (daily-ingest dedup):
    // pairs touching the "new batch" (doc_id % 10 = 0) vs the standing
    // corpus, WITHOUT the corpus×corpus candidate join — the probe
    // side of the prefix join holds batch prefixes only. Oracle = the
    // q24 all-pairs CTE restricted to batch-touching pairs; DedupSpec
    // proves equality with the full join at the operator level.
    QuerySpec("q64_incremental_pairs")((s, dir) => {
      val sets = documents(s, dir)
        .select(col("doc_id"), Dedup.charNgrams(col("text"), 5).as("set"))
      Dedup.incrementalSimilarityPairs(
        sets.filter(col("doc_id") % 10 =!= 0),
        sets.filter(col("doc_id") % 10 === 0),
        "doc_id", threshold = 0.4)
    })(incrementalPairsOracleSql),

    // Fixed-point PageRank over the materialized near-dup pair graph
    // (ops.LinkAnalysis.pageRankFixed): which docs sit at the CENTER
    // of duplication mass — integer damped power iteration, 3 rounds,
    // every op exact and SQL-replayable; shares q47's artifact.
    QuerySpec("q123_pagerank")((s, dir) => {
      val (cat, table) = pairGraphTable(s, dir, threshold = 0.4)
      graft.ops.LinkAnalysis.pageRankFixed(cat.read(s, table))
        .withColumnRenamed("id", "doc_id")
    })({
      // The q47 pair CTEs (ONE shared definition) + the integer damped
      // update unrolled three rounds — Spark's `div` and DuckDB's `//`
      // agree on the nonnegative operands, sums are exact longs.
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
    }),

    // Label-propagation communities (ops.LinkAnalysis
    // .labelPropagation): deterministic synchronous LPA, 3 rounds,
    // most-frequent-neighbor-label votes with (cnt DESC, label ASC)
    // ties — splits a weakly-bridged dup component into its dense
    // cores, the signal between q47's components and q147's
    // triangles; shares the same pair-graph artifact.
    QuerySpec("q191_label_propagation")((s, dir) => {
      val (cat, table) = pairGraphTable(s, dir, threshold = 0.4)
      graft.ops.LinkAnalysis.labelPropagation(cat.read(s, table))
        .withColumnRenamed("id", "doc_id")
    })({
      // Three synchronous LPA rounds as chained CTEs over the q123 edge
      // list: the min(struct(-cnt,label)) heap is row_number over
      // (cnt DESC, label ASC) — the same heap/window equivalence the
      // green q65/q92 oracles pin.
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
    }),

    // Modularity audit of the q191 partition (ops.LinkAnalysis
    // .modularity): per community, the exact integer contribution
    // q_num = 4m·e_in − deg_sum² (Q = Σ q_num / 4m², Newman & Girvan
    // 2004) — negative rows are worse-than-random groupings. No
    // division or float anywhere; envelope m ≤ 1.5e9 edges.
    QuerySpec("q194_modularity")((s, dir) => {
      val (cat, table) = pairGraphTable(s, dir, threshold = 0.4)
      val g = cat.read(s, table)
      graft.ops.LinkAnalysis.modularity(g,
        graft.ops.LinkAnalysis.labelPropagation(g))
    })({
      // q191's CTE chain extended with the modularity aggregates: e_in
      // over same-label edges, degree sums per community, q_num in
      // exact BIGINT.
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
    }),

    // 2-core of the dup graph (ops.LinkAnalysis.kCore): docs whose
    // near-dup relations are corroborated by a CYCLE — a pendant edge
    // is one accidental 5-gram collision; a 2-core member is
    // confirmed twice over. Three peel rounds, fixed for the SQL
    // replay; surviving deg < k tells non-convergence.
    QuerySpec("q195_kcore")((s, dir) => {
      val (cat, table) = pairGraphTable(s, dir, threshold = 0.4)
      graft.ops.LinkAnalysis.kCore(cat.read(s, table), k = 2)
        .withColumnRenamed("id", "doc_id")
    })({
      // Three peel rounds as chained CTEs over the q123 edge list:
      // degree filter >= 2, then edges restricted to survivors on both
      // endpoints.
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
    }),

    // Seed-expansion curation score (ops.LinkAnalysis
    // .personalizedPageRank): proximity to the trusted seed docs
    // (doc_id % 17 == 0) through the dup/similarity graph — the
    // TrustRank-style signal for growing a curated set from a vetted
    // one; rank 0 = unreached within 3 hops.
    QuerySpec("q196_seed_expansion")((s, dir) => {
      val (cat, table) = pairGraphTable(s, dir, threshold = 0.4)
      val seeds = documents(s, dir).select(col("doc_id"))
        .filter(col("doc_id") % 17 === 0)
      graft.ops.LinkAnalysis.personalizedPageRank(cat.read(s, table), seeds)
        .withColumnRenamed("id", "doc_id")
    })({
      // q123's round CTEs with the teleport restricted to the seed set:
      // seeds start at 1e6, re-teleport 150000 each round; non-seeds
      // accumulate diffused mass only.
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
    }),

    // Degree assortativity of the dup graph (ops.LinkAnalysis
    // .assortativityFixed): Pearson of endpoint degrees over
    // mirrored edges (Newman 2002) — positive = genuine dense-core
    // near-dup families, negative = a template hub fanning out to
    // degree-1 pages. q162's exact moment discipline.
    QuerySpec("q201_assortativity")((s, dir) => {
      val (cat, table) = pairGraphTable(s, dir, threshold = 0.4)
      graft.ops.LinkAnalysis.assortativityFixed(cat.read(s, table))
    })(
      // The q123 edge list + degree CTE, endpoint degrees joined onto
      // every mirrored edge, then q162's exact moment SQL.
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
         |FROM m""".stripMargin),

    // Sorted-neighborhood dedup (dedup.SortedNeighborhood): window-3
    // pairs over the text-sorted corpus, Levenshtein-verified on the
    // first 128 chars at threshold 40 (the corpus is cleanly bimodal:
    // its 25 planted near-dup pairs sit at lev <= 20, background at
    // 78+). Global rank via the parallel two-phase form, never a
    // single-partition window.
    QuerySpec("q128_sorted_neighborhood")((s, dir) =>
      graft.dedup.SortedNeighborhood.candidatePairs(
        documents(s, dir), "doc_id", "text",
        window = 3, levPrefix = 128, threshold = 40))(
      // The naive single-window form of the sorted-neighborhood rank —
      // exactly the plan shape the operator's two-phase rank replaces.
      """WITH r AS (SELECT doc_id, text,
        |  row_number() OVER (ORDER BY text, doc_id) AS rn FROM documents)
        |SELECT a.doc_id AS a_id, b.doc_id AS b_id,
        |  CAST(levenshtein(substr(a.text, 1, 128), substr(b.text, 1, 128))
        |    AS INTEGER) AS lev,
        |  levenshtein(substr(a.text, 1, 128), substr(b.text, 1, 128)) <= 40
        |    AS is_dup
        |FROM r AS a JOIN r AS b ON b.rn - a.rn BETWEEN 1 AND 2""".stripMargin),

    // Sorted-neighborhood duplicates only (dedup.SortedNeighborhood
    // .duplicatePairs): the q128 scan with the below-threshold filter
    // written in the NATURAL unbounded form — the plans
    // .BoundedLevenshtein optimizer rule (installed by the operator)
    // plans it as the banded levenshtein(a, b, t).
    QuerySpec("q132_neighborhood_dups")((s, dir) =>
      graft.dedup.SortedNeighborhood.duplicatePairs(
        documents(s, dir), "doc_id", "text",
        window = 3, levPrefix = 128, threshold = 40))(
      // The q128 window spec restricted to the verified duplicates.
      """WITH r AS (SELECT doc_id, text,
        |  row_number() OVER (ORDER BY text, doc_id) AS rn FROM documents)
        |SELECT a.doc_id AS a_id, b.doc_id AS b_id,
        |  CAST(levenshtein(substr(a.text, 1, 128), substr(b.text, 1, 128))
        |    AS INTEGER) AS lev
        |FROM r AS a JOIN r AS b ON b.rn - a.rn BETWEEN 1 AND 2
        |WHERE levenshtein(substr(a.text, 1, 128), substr(b.text, 1, 128))
        |  <= 40""".stripMargin),

    // Component churn report: per CURRENT dup family, how many
    // pre-batch families it unites — restricting the pair graph to
    // the old corpus (sound: Jaccard is pairwise) and re-running the
    // closure. merged=true families are the bridges a new crawl
    // batch built between previously-separate content clusters — the
    // signal that incremental dedup state (q89) must re-fold, and the
    // quality eye on what a batch did to the family structure.
    QuerySpec("q158_component_churn")((s, dir) => {
      val (cat, table) = pairGraphTable(s, dir, threshold = 0.25)
      val pairs = cat.read(s, table).select(col("id_a"), col("id_b"))
      graft.dedup.Dedup.componentChurn(pairs,
        pairs.filter(col("id_a") % 9 =!= 0 && col("id_b") % 9 =!= 0))
    })(
      // The 0.25 components CTE + a second closure on the old-corpus
      // restriction of the same pairs.
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
         |FROM j GROUP BY 1""".stripMargin),

    // Fellegi-Sunter linkage scoring (ops.Linkage.scorePairs) over
    // q128's sorted-neighborhood candidates: four compared fields
    // (banded title edit distance, lang, source, length tolerance)
    // with pinned integer log-odds — the probabilistic step between
    // candidate generation and a merge decision, exact long
    // arithmetic end to end.
    QuerySpec("q172_linkage_score")((s, dir) => {
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
    })(
      // q128's window self-join candidates + the same four agreement
      // predicates and pinned weights (NULL agreement takes the
      // disagree branch in both engines' CASE).
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
        |FROM sc""".stripMargin),

    // Per-source duplication report (composition over the q47
    // components): which sources are template mills — doc volume,
    // members-in-dup-families, distinct families, dup rate. The
    // report that decides WHERE to spend the dedup budget.
    QuerySpec("q155_source_dup_report")((s, dir) => {
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
    })(
      // q47's recursive components left-joined onto documents.
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
         |FROM j GROUP BY 1""".stripMargin),

    // Dedup-weighted sampling (dedup.Curation.dedupWeightedSample):
    // keep each doc with probability 1/|its dup family| — content
    // represented once in expectation, copies chosen by the md5
    // permutation; singletons always survive. The middle road between
    // keeping every near-dup and hard dedup to one survivor.
    QuerySpec("q148_dedup_weighted_sample")((s, dir) => {
      val (cat, table) = pairGraphTable(s, dir, threshold = 0.4)
      graft.dedup.Curation.dedupWeightedSample(documents(s, dir), "doc_id",
        graft.dedup.Curation.componentsFromCatalog(s, cat, table))
    })(
      // q47's recursive components + sizes + the q63 md5-cut replay.
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
         |   OR substring(md5(CAST(doc_id AS VARCHAR)), 1, 8) < threshold""".stripMargin),

    // Triangle enumeration (ops.LinkAnalysis.triangles) over the
    // char-5-gram pair graph at 0.25: degree-oriented so wedge mass is
    // O(m^1.5) regardless of hubs — the cohesion signal that separates
    // genuine mutual dup clusters (triangle-dense, safe to collapse)
    // from template stars (triangle-free, collapsing merges content).
    QuerySpec("q147_triangles")((s, dir) => {
      val (cat, table) = pairGraphTable(s, dir, threshold = 0.25)
      graft.ops.LinkAnalysis.triangles(cat.read(s, table))
    })(
      // The canonical three-way join (a<b, b<c, a<c all in pairs) —
      // the id-sorted triple equals the orientation-found triangle.
      s"""WITH ${charPairsCte(0.25)}
         |SELECT e1.id_a, e1.id_b, e2.id_b AS id_c
         |FROM pairs e1
         |JOIN pairs e2 ON e2.id_a = e1.id_b
         |JOIN pairs e3 ON e3.id_a = e1.id_a AND e3.id_b = e2.id_b""".stripMargin),

    // The COMPLETE dataset build as one plan: curation (language →
    // quality → exact dedup → exact near-dup removal) feeding
    // sequence packing, reduced to the per-shard manifest a training
    // run consumes (docs, tokens, sequences). Every stage's arithmetic
    // is hash-verified cross-engine in one oracle — the end-to-end
    // composition a 100 TB corpus run executes, not just its pieces.
    QuerySpec("q67_dataset_build")((s, dir) => {
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
    })(
      // q43's curation CTEs reduced to the shard manifest; n_sequences
      // is ceil(shard tokens / 512) — the count the contiguous token
      // stream fills, mirroring the Spark side's formula exactly.
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
         |FROM final GROUP BY 1""".stripMargin),

    // The flagship LLM-pipeline composition END-TO-END (SURVEY §7.4):
    // language filter → quality gate → exact dedup → exact n-gram
    // near-dup removal → corpus report, as ONE pure plan
    // (Curation.curateExact) with a DuckDB oracle reproducing every
    // stage. The 100 TB variant swaps the near-dup stage for the LSH
    // chain (Curation.curate, recall measured in docs/RECALL.md).
    QuerySpec("q43_curated_corpus")((s, dir) => {
      val kept = graft.dedup.Curation.curateExact(
        documents(s, dir), "doc_id", "text", "lang")
      kept.groupBy(col("lang"), col("source"))
        .agg(count(lit(1)).as("n_docs"),
          sum(TF.tokenCount(col("text"))).cast("long").as("sum_tokens"),
          (sum(col("n_chars")) / count(lit(1))).as("avg_chars"))
    })(
      // Every curation stage reproduced: token-count quality gate,
      // min-id-per-fingerprint exact dedup, the q24 n-gram Jaccard CTE at
      // threshold 0.8 for near-dup losers, then the corpus report.
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
         |FROM final GROUP BY 1, 2""".stripMargin),

    // The curation FUNNEL itself, oracle-gated (S11 row-count
    // metadata made cross-engine-verifiable): input / after-language /
    // after-quality / after-exact-dedup from ONE conditional-agg pass
    // over the corpus (the count-distinct-fingerprint trick — no
    // per-stage re-scan), after-near-dedup from the exact chain; the
    // two one-row frames join scalar-to-scalar. Every number a 100 TB
    // run would report as its drop accounting is hash-matched here.
    QuerySpec("q61_curation_funnel")((s, dir) => {
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
    })(
      // Same stage CTEs as q43, reduced to the per-stage survivor counts.
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
         |  (SELECT count(*) FROM final) AS after_near_dedup""".stripMargin),

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
    QuerySpec("q47_dup_components")((s, dir) => {
      val (cat, table) = pairGraphTable(s, dir, threshold = 0.4)
      graft.dedup.Curation.componentsFromCatalog(s, cat, table)
    })(
      // The q24 pair CTE + recursive reachability closure: component =
      // min id reachable through the near-dup graph.
      s"""WITH RECURSIVE
         |${componentsCte(0.4)}
         |SELECT id, component FROM comp""".stripMargin),

    // The flagship 100 TB curation path ITSELF (not just its exact
    // twin): language → quality → exact dedup → MinHash-LSH near-dup
    // removal with transitive-closure components, as one plan
    // (Curation.curateLsh). Rows-only — the LSH chain is approximate
    // by design; its removal recall vs the exact-join chain is
    // measured in docs/RECALL.md and lower-bounded in RecallSpec.
    QuerySpec("q50_curation_lsh")((s, dir) =>
      graft.dedup.Curation.curateLsh(
          documents(s, dir), "doc_id", "text", "lang")
        .select(col("doc_id"), col("lang"), col("source"), col("n_chars")))(
      // The full LSH curation chain, oracle-gated like q20: measured
      // removal recall is 1.000 at both gate scales (RECALL.md), so the
      // kept set equals the exact-join chain's with the same transitive
      // component semantics — q43's stage CTEs + the 3-word-shingle
      // pair join + q47's recursive closure.
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
         |WHERE doc_id NOT IN (SELECT id FROM removed)""".stripMargin),

    // Leakage-safe train/val/test split: the whole near-dup COMPONENT
    // takes one md5 coin flip, so duplicate families never straddle
    // the eval cut (the split that keeps eval honest). Components come
    // off the persisted pair graph — no similarity join in this plan.
    QuerySpec("q81_leakage_split")((s, dir) => {
      val (cat, table) = pairGraphTable(s, dir, threshold = 0.4)
      val comp = graft.dedup.Curation.componentsFromCatalog(s, cat, table)
      graft.ops.Splits.leakageSafeSplit(documents(s, dir), "doc_id",
          comp, "id", "component", splitFractions)
        .select(col("doc_id"), col("grp"), col("split"))
    })(
      // q47's closure + the md5-cut CASE from the SAME declaration the
      // Spark operator renders (Splits.hexCut — literals cannot drift).
      s"""WITH RECURSIVE
         |${componentsCte(0.4)},
         |grp AS (SELECT d.doc_id,
         |  CAST(coalesce(c.component, d.doc_id) AS VARCHAR) AS grp
         |  FROM documents d LEFT JOIN comp c ON c.id = d.doc_id)
         |SELECT doc_id, grp,
         |  ${graft.ops.Splits.sql.splitCase("grp", splitFractions)} AS split
         |FROM grp""".stripMargin),

    // Cross-source duplication matrix — which feeds re-crawl each
    // other — read off the same persisted pair graph: id-only pairs
    // pick up their two source labels and aggregate to ≤|sources|²
    // rows.
    QuerySpec("q82_source_overlap")((s, dir) => {
      val (cat, table) = pairGraphTable(s, dir, threshold = 0.4)
      graft.dedup.Curation.sourceOverlapFromCatalog(
        documents(s, dir), "doc_id", "source", cat, table)
    })(
      // The pair CTE labeled with each endpoint's source, unordered
      // pair normalized by least/greatest — the same matrix the Spark
      // side reads off the persisted graph.
      s"""WITH ${charPairsCte(0.4)},
         |ps AS (SELECT least(sa.source, sb.source) AS src_a,
         |    greatest(sa.source, sb.source) AS src_b
         |  FROM pairs
         |  JOIN norm sa ON sa.doc_id = id_a
         |  JOIN norm sb ON sb.doc_id = id_b)
         |SELECT src_a, src_b, count(*) AS n_dup_pairs
         |FROM ps GROUP BY 1, 2""".stripMargin),

    // Incremental component maintenance — the daily-ingest closer:
    // the standing assignment (a persisted artifact like q47's pair
    // graph) is folded together with the batch's delta pairs — found
    // off the PERSISTED prefix index (q90's path), the way production
    // runs it — by contracting endpoints to their current component
    // and running CC on that delta-scale graph only. The standing
    // frame is scanned, never shuffled; q64 keeps the self-contained
    // rebuild declaration. Shares q47's recursive-CTE oracle over the
    // union corpus: incremental ≡ from-scratch.
    QuerySpec("q89_incremental_components")((s, dir) => {
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
    })(
      // EXACTLY q47's oracle: corpus-only components + batch delta
      // pairs folded incrementally must equal the from-scratch closure
      // over the whole corpus (the q77/q52 shared-oracle pattern —
      // different computation, bit-identical result).
      s"""WITH RECURSIVE
         |${componentsCte(0.4)}
         |SELECT id, component FROM comp""".stripMargin),

    // The persisted prefix index delivering the promise q64's scaladoc
    // makes: per-batch pair discovery reads the corpus's prefix rows
    // and frozen token order from the catalog — the batch pays its own
    // prefix mass, never a corpus re-tokenize/re-rank — and the output
    // is exactly q64's (shared oracle). The corpus frame here supplies
    // only verification sets.
    QuerySpec("q90_indexed_pairs")((s, dir) => {
      val (cat, table) = prefixIndexTable(s, dir)
      val sets = documents(s, dir)
        .select(col("doc_id"), Dedup.charNgrams(col("text"), 5).as("set"))
      Dedup.incrementalPairsFromCatalog(
        sets.filter(col("doc_id") % 10 =!= 0),
        sets.filter(col("doc_id") % 10 === 0),
        "doc_id", cat, table)
    })(
      // The persisted-index path must reproduce q64 exactly — the
      // q77/q89 shared-oracle pattern.
      incrementalPairsOracleSql),

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
    QuerySpec("q207_containment")((s, dir) => {
      val sets = documents(s, dir).where(col("text").isNotNull)
        .select(col("doc_id"),
          graft.dedup.Dedup.charNgrams(col("text"), 5).as("set"))
      graft.dedup.Dedup.containmentPairs(
        sets.filter(col("doc_id") < 50), sets,
        "doc_id", tNum = 4, tDen = 5)
    })(
      // charPairs' norm/gram/count CTEs, intersections mirrored into
      // both directions, the rational predicate on the inner size.
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
        |WHERE d.inner_id < 50 AND d.ovl * 5 >= 4 * c.sz""".stripMargin),

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
    QuerySpec("q208_containment_corpus")((s, dir) => {
      val sets = documents(s, dir).where(col("text").isNotNull)
        .select(col("doc_id"),
          graft.dedup.Dedup.charNgrams(col("text"), 5).as("set"))
      graft.dedup.Dedup.containmentPairsSketch(
        sets, sets, "doc_id", tNum = 3, tDen = 5, sketchK = 32)
    })(
      // q207's gram CTEs + the capped df-rarest prefix replayed
      // verbatim (row_number over (df ASC, ng ASC) — a total order per
      // doc since grams are DISTINCT — cut at least(exact prefix, 32)),
      // candidates from prefix-vs-full-gram-index, exact intersection
      // counts on candidates only. Bit-exact twin of the Spark side's
      // candidate rule: the compare never depends on sketch recall.
      s"""WITH $containmentCorpusCtes
         |SELECT i.inner_id, i.outer_id, c.sz AS sz_inner, i.ovl,
         |  CAST(i.ovl * 1000000 // c.sz AS BIGINT) AS containment_fp
         |FROM inter i JOIN counts c ON c.doc_id = i.inner_id
         |WHERE i.ovl * 5 >= 3 * c.sz""".stripMargin),

    // The curation ACTION the containment detectors feed
    // (Dedup.excerptDedup): drop every doc >= 3/5-contained in a
    // LARGER doc — keep the host page, scrub the quote/excerpt the
    // Jaccard gates structurally keep (tiny symmetric overlap). Size
    // ties keep the smaller id, so identical-set pairs lose exactly
    // one member. Survivors among the textual corpus.
    QuerySpec("q209_excerpt_scrub")((s, dir) => {
      val sets = documents(s, dir).where(col("text").isNotNull)
        .select(col("doc_id"),
          graft.dedup.Dedup.charNgrams(col("text"), 5).as("set"))
      graft.dedup.Dedup.excerptDedup(sets, "doc_id", tNum = 3, tDen = 5)
        .select(col("doc_id"))
    })(
      // q208's pipeline + the keep-superset drop rule (size ties keep
      // the smaller id), anti-joined back to the textual corpus.
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
         |  AND d.doc_id NOT IN (SELECT inner_id FROM losers)""".stripMargin),

    // The containment detector at WORD granularity — the vocabulary
    // regime the char-gram form never meets: an open-ended
    // word-shingle space whose df distribution long-tails at 1,
    // exactly the shape the two-phase dictionary rank exists for (a
    // df-keyed bucket split collapses when ~all dfs tie; the
    // sketch key's code-point refinement keeps the buckets even).
    // Same capped df-rarest prefix (k=32), same rational threshold;
    // sets are distinct 3-word shingles of the whitespace tokens.
    QuerySpec("q210_containment_words")((s, dir) => {
      val sets = documents(s, dir).where(col("text").isNotNull)
        .select(col("doc_id"),
          graft.dedup.Dedup.shingles(col("text"), 3).as("set"))
      graft.dedup.Dedup.containmentPairsSketch(
        sets, sets, "doc_id", tNum = 3, tDen = 5, sketchK = 32)
    })(
      // q208's select over the word-shingle head — the tail CTEs are
      // the same factored text, so the candidate rule cannot drift.
      s"""WITH $containmentWordCtes
         |SELECT i.inner_id, i.outer_id, c.sz AS sz_inner, i.ovl,
         |  CAST(i.ovl * 1000000 // c.sz AS BIGINT) AS containment_fp
         |FROM inter i JOIN counts c ON c.doc_id = i.inner_id
         |WHERE i.ovl * 5 >= 3 * c.sz""".stripMargin),

    // Dedup ROI forecast: the token mass keep-best-copy dedup (q91)
    // would remove, as one summary row — families' total tokens minus
    // their best member's, over the corpus total. The number that
    // decides whether the dedup pass is WORTH its cluster hours
    // before anyone schedules it.
    QuerySpec("q206_dedup_savings")((s, dir) => {
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
    })(
      // The q91 family closure folded to corpus totals: removable =
      // family tokens minus the best member's, over the corpus sum.
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
         |FROM tot, fa""".stripMargin),

    QuerySpec("q91_canonical_docs")((s, dir) => {
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
    })(
      // The window form of the bounded-heap argmax: same family closure,
      // same (n_tokens DESC, id ASC) survivor order.
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
         |FROM r WHERE rnk = 1""".stripMargin),
  )
}
