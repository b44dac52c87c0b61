package graft.sim

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.ops.Pins

/** Approximate-nearest-neighbor search over an embedding column.
  *
  * Two tiers:
  *  - [[bruteForceTopK]]: exact cosine top-k — broadcast the (small)
  *    query set against the corpus, one pass, no corpus shuffle except
  *    the per-query top-k. Correctness baseline.
  *  - [[lshTopK]]: random-hyperplane LSH bucketing — corpus and queries
  *    hash to sign-bit buckets; candidates are same-bucket pairs only,
  *    so the scan cost drops from |Q|·|C| to the bucket collision mass.
  *    The scale path for 100 TB corpora: buckets partition the corpus,
  *    the bucket join is an equi-join Catalyst can shuffle-partition,
  *    and recall is tunable via nPlanes / multi-probe.
  */
object Ann {
  /** Corpus frame → (id, v:array<double>) projection. */
  private def prep(emb: DataFrame, idCol: String, vecCol: String): DataFrame =
    emb.select(col(idCol).as("id"), Vectors.asDouble(col(vecCol)).as("v"))

  /** Operators that break similarity ties by DESCENDING id inside an
    * ascending-ordered struct encode the id as `-id`, which requires a
    * NUMERIC id column — a string id fails at analysis time with an
    * opaque cast error, so check up front with a named message.
    * (Long.MinValue would overflow on negation; ids are expected
    * nonnegative, as every generated corpus id is.) */
  private[graft] def requireNumericId(df: DataFrame, idCol: String, op: String): Unit =
    require(df.schema(idCol).dataType
        .isInstanceOf[org.apache.spark.sql.types.NumericType],
      s"$op requires a numeric id column (ties break via -id); " +
        s"'$idCol' is ${df.schema(idCol).dataType.simpleString}")

  /** Exact top-k neighbors for each query row (excluding self-matches).
    * Ties broken by candidate id for determinism. */
  def bruteForceTopK(emb: DataFrame, queries: DataFrame, k: Int,
                     idCol: String = "vec_id",
                     vecCol: String = "embedding"): DataFrame = {
    // norms attach per ROW before the pair join: cosine per pair then
    // pays one dot product, not three — bit-identical (same IEEE op
    // order, each factor just computed once), 3x fewer flops across
    // the |corpus|x|queries| score matrix
    val corpus = prep(emb, idCol, vecCol)
      .withColumn("nrm", Vectors.norm(col("v")))
    val q = prep(queries, idCol, vecCol)
      .withColumn("qnrm", Vectors.norm(col("v")))
      .withColumnRenamed("id", "qid").withColumnRenamed("v", "qv")
    val scored = corpus.join(broadcast(q), col("id") =!= col("qid"))
      .withColumn("sim",
        Vectors.dot(col("qv"), col("v")) / (col("qnrm") * col("nrm")))
    val w = Window.partitionBy(col("qid"))
      .orderBy(col("sim").desc, col("id").asc)
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("qid"), col("id").as(idCol), col("sim"), col("rank"))
  }

  /** FILTERED exact top-k: restrict the candidate corpus to the ids
    * in `allowed` BEFORE any similarity arithmetic (pre-filter, not
    * post-filter). The metadata-constrained search every retrieval
    * stack needs ("nearest English docs", "same tenant only") has two
    * shapes: post-filtering an unfiltered top-k under-returns
    * whenever fewer than k of the global neighbors satisfy the
    * predicate (and needs speculative k-inflation to patch), while
    * pre-filtering is exact by construction and CHEAPER — at
    * predicate selectivity s the scoring scan is s·|corpus|. The
    * semi-join keeps the plan id-only on the filter side (payload
    * columns never travel), pushes down to the corpus scan as a
    * runtime filter when the allowed set is broadcastable, and
    * `allowed` may carry duplicate ids freely (left-semi never
    * multiplies rows). Queries are NOT filtered — a probe need not
    * satisfy its own predicate. */
  def filteredBruteForceTopK(emb: DataFrame, allowed: DataFrame,
                             queries: DataFrame, k: Int,
                             idCol: String = "vec_id",
                             vecCol: String = "embedding"): DataFrame =
    bruteForceTopK(
      emb.join(allowed.select(col(idCol)), Seq(idCol), "left_semi"),
      queries, k, idCol, vecCol)

  /** Deterministic distributed k-means (Lloyd) for IVF coarse
    * quantization: init = the `k` lowest-id corpus vectors, then
    * `iters` rounds of nearest-centroid assignment (broadcast argmax —
    * ties by centroid id) and element-wise mean recomputation. The
    * mean is one grouped element-wise vector aggregation
    * ([[graft.functions.VectorSumFixed]]) — a single shuffle per round
    * carrying only partitions×k partial-sum buffers (map-side
    * combined), never per-coordinate rows; empty clusters keep their
    * previous centroid. Each round's centroid frame is tiny and is
    * collected into the next round's broadcast literal, so the
    * iteration adds no lineage growth.
    *
    * Init choice is MEASURED, not assumed: spread inits — farthest-
    * first (Gonzalez), k-means++ D²-seeding, md5-ranked pseudo-random
    * — were all tried and recalled strictly worse than lowest-id +
    * Lloyd on the test corpora at every k (docs/RECALL.md notes).
    * What moves IVF recall at equal scan fraction is quantization
    * FINENESS (more lists, proportionally more probes), not seed
    * spread: see q48 (nCentroids=256, nProbe=64 — the same 25% scan
    * as q42's 16/4 — recall 0.975 vs 0.925).
    *
    * Determinism: coordinate means sum a fixed-point integral image of
    * each coordinate (floor(x·1e9) longs — [[VectorSumFixed]]), so the
    * per-cluster sum — and therefore the returned centroids — is
    * identical under any partitioning or shuffle-partition setting, not
    * just a fixed one (double `avg` accumulates in partition order and
    * drifts in the last ulps across layouts). The 1e-9 element
    * quantization is far below embedding noise and irrelevant to a
    * coarse quantizer. */
  def kmeansCentroids(emb: DataFrame, k: Int, iters: Int = 5,
                      idCol: String = "vec_id",
                      vecCol: String = "embedding"): DataFrame = {
    requireNumericId(emb, idCol, "kmeansCentroids")
    val corpus = prep(emb, idCol, vecCol)
    val init = corpus.orderBy(col("id")).limit(k)
      .select(col("id").as("cid"), col("v").as("cv"))
    lloydRounds(corpus, init, iters)
  }

  /** The Lloyd iteration over a prepared (id, v) corpus from any
    * initial centroid frame — see [[kmeansCentroids]] for shape and
    * determinism notes. */
  private[graft] def lloydRounds(corpus: DataFrame, init: DataFrame,
                                 iters: Int): DataFrame = {
    var centroids = init
    var i = 0
    while (i < iters) {
      // argmax by aggregation, not window rank: the crossJoin emits
      // each row's k candidates contiguously, so the partial hash agg
      // collapses them to one row per id BEFORE the shuffle — the
      // window form would sort-shuffle all |C|·k rows, each carrying
      // the dim-wide vector
      val assigned = corpus.crossJoin(broadcast(centroids))
        .withColumn("csim", Vectors.cosine(col("v"), col("cv")))
        .groupBy(col("id"))
        .agg(max_by(col("cid"), struct(col("csim"), -col("cid"))).as("cid"),
          first(col("v")).as("v"))
        .select(col("cid"), col("v"))
      val means = assigned
        .groupBy(col("cid"))
        .agg(graft.functions.aggs.vec_mean_fixed(col("v"), scale = 9).as("cv"))
      // empty clusters retain their previous centroid (left anti side)
      val kept = centroids.join(means, Seq("cid"), "left_anti")
      // LAZY checkpoint: truncates per-round lineage (see
      // Dedup.connectedComponents) but defers materialization to the
      // next round's broadcast build — which is the first consumer
      // anyway — instead of paying a dedicated job per round
      // (measured: trainCodebooks' identical loop dropped ~1 s of
      // pure job overhead per iteration pair at sf0.1)
      centroids = Pins.pin(means.unionByName(kept), eager = false)
      i += 1
    }
    centroids
  }

  /** IVF-style ANN: corpus is partitioned into `nCentroids` inverted
    * lists (nearest-centroid assignment); each query probes only its
    * `nProbe` closest lists. Default centroid selection is
    * deterministic (the lowest-id vectors — oracle-reproducible in
    * SQL); pass `centroids` from [[kmeansCentroids]] for data-adaptive
    * lists (better recall at equal probe cost — measured in
    * docs/RECALL.md). The scan cost drops from |C| to
    * ≈ |C|·nProbe/nCentroids per query, and the list assignment is a
    * plain equi-join that partitions cleanly. */
  /** Nearest-centroid assignment against a broadcast centroid set:
    * keep=1 is the corpus-side argmax (partial hash agg, see
    * lloydRounds); keep>1 is the query-side top-probes (tiny frame —
    * window is fine). Shared by the inline IVF and the persisted
    * index so assignment semantics cannot drift between them. */
  private def assignLists(centroids: DataFrame)(df: DataFrame,
                          outCol: String, keep: Int): DataFrame = {
    val scored = df.crossJoin(broadcast(centroids))
      .withColumn("csim", Vectors.cosine(col("v"), col("cv")))
    if (keep == 1)
      scored.groupBy(col("id"))
        .agg(first(col("v")).as("v"),
          max_by(col("cid"), struct(col("csim"), -col("cid"))).as(outCol))
        .select(df.columns.map(col) :+ col(outCol): _*)
    else {
      val w = Window.partitionBy(col("id"))
        .orderBy(col("csim").desc, col("cid").asc)
      scored.withColumn("crank", row_number().over(w))
        .filter(col("crank") <= keep)
        .select(df.columns.map(col) :+ col("cid").as(outCol): _*)
    }
  }

  /** The top-k join of probe lists against inverted lists — the query
    * phase both IVF forms share. */
  private def ivfQuery(lists: DataFrame, probes: DataFrame, k: Int,
                       idCol: String): DataFrame = {
    val w = Window.partitionBy(col("qid"))
      .orderBy(col("sim").desc, col("id").asc)
    lists.join(broadcast(probes), Seq("list_id"))
      .filter(col("id") =!= col("qid"))
      .withColumn("sim", Vectors.cosine(col("qv"), col("v")))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("qid"), col("id").as(idCol), col("sim"), col("rank"))
  }

  private def defaultCentroids(corpus: DataFrame, nCentroids: Int): DataFrame =
    corpus.orderBy(col("id")).limit(nCentroids)
      .select(col("id").as("cid"), col("v").as("cv"))

  def ivfTopK(emb: DataFrame, queries: DataFrame, k: Int,
              nCentroids: Int = 16, nProbe: Int = 4,
              idCol: String = "vec_id", vecCol: String = "embedding",
              centroids0: Option[DataFrame] = None): DataFrame = {
    val corpus = prep(emb, idCol, vecCol)
    val centroids = centroids0.getOrElse(defaultCentroids(corpus, nCentroids))
    val assign = assignLists(centroids) _
    val lists = assign(corpus, "list_id", 1)
    val probes = assign(prep(queries, idCol, vecCol), "list_id", nProbe)
      .withColumnRenamed("id", "qid").withColumnRenamed("v", "qv")
    ivfQuery(lists, probes, k, idCol)
  }

  /** Persist the IVF index as catalog tables — the build-once,
    * query-many shape an ANN index has at corpus scale (the inline
    * [[ivfTopK]] re-assigns the whole corpus per query batch; at
    * 100 TB assignment IS the expensive pass, so it is paid once
    * here). `<prefix>_centroids` holds the coarse quantizer;
    * `<prefix>_lists` holds the inverted lists PARTITIONED BY
    * `list_id`, so a query batch probing p of k lists prunes the scan
    * to p/k of the corpus at the file level — the on-disk analogue of
    * the in-memory inverted-list lookup. */
  def buildIvfIndex(emb: DataFrame, catalog: graft.catalog.TableCatalog,
                    prefix: String = "ivf", nCentroids: Int = 16,
                    idCol: String = "vec_id", vecCol: String = "embedding",
                    centroids0: Option[DataFrame] = None): Unit = {
    val corpus = prep(emb, idCol, vecCol)
    val centroids = centroids0.getOrElse(defaultCentroids(corpus, nCentroids))
    catalog.overwrite(centroids, s"${prefix}_centroids")
    catalog.overwrite(assignLists(centroids)(corpus, "list_id", 1),
      s"${prefix}_lists", partitionBy = Seq("list_id"))
  }

  /** Each query's `nProbe` nearest inverted lists as (qid, list_id)
    * rows — the probe half of the IVF query phase, exposed so other
    * scan structures can reuse the pruning (the IVFPQ composition
    * joins these against PQ codes: lists bound WHICH vectors are
    * scored, codes make scoring them cheap). Same assignment
    * semantics as [[ivfTopK]]'s probes (cosine, ties by list id). */
  def probeLists(queries: DataFrame, centroids: DataFrame, nProbe: Int,
                 idCol: String = "vec_id",
                 vecCol: String = "embedding"): DataFrame =
    assignLists(centroids)(prep(queries, idCol, vecCol), "list_id", nProbe)
      .select(col("id").as("qid"), col("list_id"))

  /** Incremental index maintenance: assign a NEW batch of vectors
    * against the persisted centroids and append its inverted-list
    * rows — the corpus-assignment pass is paid for the DELTA only,
    * never the accumulated index (the regime that matters at 100 TB:
    * a daily embedding delta lands in one small job while the index
    * grows without bound). Assignment depends only on the centroids,
    * so build(A) then append(B) is bit-identical to build(A ∪ B)
    * under the same centroids (spec-pinned); the append lands in the
    * existing `list_id=` partition directories, preserving file-level
    * probe pruning. Centroid drift is deliberately out of scope —
    * when the batch distribution has moved enough to hurt recall,
    * refresh with [[buildIvfIndex]] (callers own that policy; the
    * measured recall curve in docs/RECALL.md is the trigger). */
  def appendToIvfIndex(batch: DataFrame, catalog: graft.catalog.TableCatalog,
                       prefix: String = "ivf",
                       idCol: String = "vec_id",
                       vecCol: String = "embedding"): Unit = {
    val centroids = catalog.read(batch.sparkSession, s"${prefix}_centroids")
    catalog.append(
      assignLists(centroids)(prep(batch, idCol, vecCol), "list_id", 1),
      s"${prefix}_lists", partitionBy = Seq("list_id"))
  }

  /** Query a [[buildIvfIndex]]-persisted index: assign the (small)
    * query batch against the stored centroids, then join only the
    * probed inverted-list partitions. Bit-identical to [[ivfTopK]]
    * with the same parameters — arrays of doubles round-trip parquet
    * exactly — so it shares q42's oracle in the correctness gate. */
  def ivfTopKFromCatalog(queries: DataFrame,
                         catalog: graft.catalog.TableCatalog, k: Int,
                         nProbe: Int = 4, prefix: String = "ivf",
                         idCol: String = "vec_id",
                         vecCol: String = "embedding"): DataFrame = {
    val spark = queries.sparkSession
    val centroids = catalog.read(spark, s"${prefix}_centroids")
    val lists = catalog.read(spark, s"${prefix}_lists")
    val probes = assignLists(centroids)(
        prep(queries, idCol, vecCol), "list_id", nProbe)
      .withColumnRenamed("id", "qid").withColumnRenamed("v", "qv")
    ivfQuery(lists, probes, k, idCol)
  }

  /** ONE definition of the multi-table hash geometry shared by the
    * query-probe ([[lshTopK]]) and self-join ([[knnJoin]]) forms —
    * seed-offset plane tables and the per-vector (t, b) bucket array —
    * so the two can never drift apart and RECALL.md's shared recall
    * math stays valid for both. */
  private def planeTables(nPlanes: Int, nTables: Int, dim: Int): Seq[Seq[Seq[Double]]] =
    (0 until nTables).map(t => Vectors.seededPlanes(nPlanes, dim, seed = 42L + t))

  private def bucketArray(tables: Seq[Seq[Seq[Double]]])(v: Column): Column =
    array(tables.zipWithIndex.map { case (planes, t) =>
      struct(lit(t).as("t"), Vectors.hyperplaneBucket(v, planes).as("b"))
    }: _*)

  /** (id, tbl, bucket) rows for a prepared (id, v) corpus. */
  private def bucketRows(corpus: DataFrame, tables: Seq[Seq[Seq[Double]]]): DataFrame =
    corpus
      .select(col("id"), explode(bucketArray(tables)(col("v"))).as("tb"))
      .select(col("id"), col("tb.t").as("tbl"), col("tb.b").as("bucket"))

  /** LSH-bucketed ANN: candidates limited to matching sign-bit buckets,
    * amplified across `nTables` INDEPENDENT hash tables (seed-offset
    * plane sets) — a neighbor is a candidate if it shares a bucket in
    * ANY table. Multi-probe: each query additionally probes every
    * bucket at Hamming distance 1 from its own in every table (one
    * flipped hyperplane bit), recovering neighbors just across a plane.
    *
    * Recall math: a neighbor at angle θ lands in the query's bucket of
    * one r-plane table with p^r (p = 1 − θ/π); Hamming-1 probing lifts
    * that to p^r + r·p^(r−1)(1−p), and L tables to 1 − (1 − ·)^L. The
    * round-2 single-table form (r = 6, L = 1) recalled 0.25 of true
    * top-5; the default (r = 4, L = 6, probe-1) sits ≥ 0.97 for cos 0.5
    * neighbors. Raise `nPlanes` (halves candidate mass per +1) as the
    * corpus grows; raise `nTables` to buy recall back.
    *
    * Scale shape: the corpus explodes to (id, table, bucket) rows ONLY
    * — vectors never replicate across tables; candidate (qid, id) pairs
    * re-join the corpus once for the cosine. Query side stays tiny
    * (×L·(r+1) rows, broadcast). */
  def lshTopK(emb: DataFrame, queries: DataFrame, k: Int, nPlanes: Int = 4,
              nTables: Int = 6, dim: Int = 64, multiProbe: Boolean = true,
              idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val tables = planeTables(nPlanes, nTables, dim)
    val corpus = prep(emb, idCol, vecCol)
    val corpusBuckets = bucketRows(corpus, tables)
    // probes: own bucket per table, + every 1-bit flip when multiProbe;
    // buckets computed once into an array column, flips derived from it
    val flips: Column => Seq[Column] = tb =>
      if (multiProbe)
        tb.getField("b") +: (0 until nPlanes)
          .map(j => tb.getField("b").bitwiseXOR(lit(1L << j)))
      else Seq(tb.getField("b"))
    val qProbes = prep(queries, idCol, vecCol)
      .select(col("id").as("qid"),
        explode(bucketArray(tables)(col("v"))).as("tb"))
      .select(col("qid"), col("tb.t").as("tbl"),
        explode(array(flips(col("tb")): _*)).as("bucket"))
    val cand = corpusBuckets.join(broadcast(qProbes), Seq("tbl", "bucket"))
      .filter(col("id") =!= col("qid"))
      .select(col("qid"), col("id"))
      .dropDuplicates("qid", "id")
    val q = prep(queries, idCol, vecCol)
      .select(col("id").as("qid"), col("v").as("qv"))
    val scored = cand.join(corpus, Seq("id")).join(broadcast(q), Seq("qid"))
      .withColumn("sim", Vectors.cosine(col("qv"), col("v")))
    val w = Window.partitionBy(col("qid"))
      .orderBy(col("sim").desc, col("id").asc)
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("qid"), col("id").as(idCol), col("sim"), col("rank"))
  }

  /** Self k-NN JOIN: every vector's k approximate nearest neighbors —
    * the k-NN graph semantic dedup, SemDeDup-style clustering audits,
    * and diversity sampling all build on. [[lshTopK]] assumes a small
    * broadcastable query set; here EVERY vector is a query, so the
    * shape is symmetric instead: candidates come from a bucket
    * SELF-join over the same `nTables` independent hyperplane tables
    * (ids only — vectors never replicate across tables), mirrored into
    * both directions, and each vector's top-k is taken by the
    * k-bounded heap aggregate ([[graft.functions.aggs.top_k]]) — the
    * partial buffers prune to k map-side, so the exchange carries
    * |V|·k skinny rows, never the candidate mass, and no window ever
    * sorts a whole candidate partition.
    *
    * Recall vs the brute-force graph is measured in docs/RECALL.md and
    * bounded in RecallSpec (the same LSH recall math as [[lshTopK]];
    * no multi-probe — the mirror doubles candidate coverage instead).
    * Candidate mass ≈ n²·L/2^r, so `nPlanes` is the knob that scales
    * with the corpus (each +1 halves mass); measured trade at the gate
    * corpora: r=3×L=16 recalls 0.98, r=4×L=16 recalls 0.90 at half
    * the candidates. The DEFAULT takes r=3 — the k-NN graph is built
    * once and consumed many times (dedup audits, diversity sampling,
    * clustering), so recall is worth 2× one-time candidate mass;
    * raise `nPlanes` as the corpus grows and buy recall back with
    * `nTables`. `maxBucket` caps hyperplane-bucket floods like the
    * dedup family's candidate generators.
    * `idCol` must be NUMERIC (nonnegative): ties inside the bounded
    * heap break by descending id encoded as `-id`. */
  /** EXACT self k-NN graph — the brute-force baseline [[knnJoin]]
    * approximates: every (query, candidate) pair is scored, so recall
    * is 1.0 by construction and the result carries a full SQL oracle
    * (driver query q65). The corpus broadcasts against itself — the
    * right plan exactly when exact ground truth is computable at all
    * (the id+vector frame must fit an executor broadcast); past that
    * regime [[knnJoin]] is the scale path and this stays the recall
    * oracle over samples (RecallReport). Output schema, tie rule
    * (ascending id via the negated-id struct field) and per-query
    * top-k mechanism (k-bounded heap, map-side pruned — partials are
    * O(k) where a rank window's partition is O(n)) are identical to
    * [[knnJoin]], so the two are drop-in twins. */
  def exactKnnGraph(emb: DataFrame, k: Int, idCol: String = "vec_id",
                    vecCol: String = "embedding"): DataFrame = {
    requireNumericId(emb, idCol, "exactKnnGraph")
    // per-row norms before the n² join — see bruteForceTopK's note
    val corpus = prep(emb, idCol, vecCol)
      .withColumn("nrm", Vectors.norm(col("v")))
    val q = corpus.select(col("id").as("qid"), col("v").as("qv"),
      col("nrm").as("qnrm"))
    val scored = q.join(broadcast(corpus), col("id") =!= col("qid"))
      .select(col("qid"), col("id"),
        (Vectors.dot(col("qv"), col("v")) / (col("qnrm") * col("nrm")))
          .as("sim"))
    scored.groupBy(col("qid"))
      .agg(graft.functions.aggs.top_k(
        struct(col("sim").as("s"), (-col("id")).as("ni")), k).as("top"))
      .select(col("qid"), posexplode(col("top")).as(Seq("r", "t")))
      .select(col("qid"), (-col("t.ni")).as(idCol),
        col("t.s").as("sim"), (col("r") + 1).cast("int").as("rank"))
  }

  /** Semantic held-out-set decontamination gate: for every corpus
    * vector, how many PROBE vectors (the benchmark / eval set) sit at
    * cosine ≥ `threshold`, plus the kept verdict (zero hits). The
    * embedding-side twin of the verbatim n-gram gates (Contamination /
    * phraseDecontaminate): verbatim scrubbing misses paraphrases; a
    * similarity gate catches "same content, different words" leakage.
    * Exact by construction in precisely the regime the problem lives
    * in — the probe side is an eval set, tiny relative to any corpus,
    * so it BROADCASTS; the corpus scans once with per-row norms and
    * the only shuffle is the per-id hit count. Funnel accounting keeps
    * the zero-hit rows: the output is the TOTAL corpus frame with
    * verdicts, which downstream mixture building consumes directly. */
  /** Shared core of [[semanticDecon]] and [[probeLeakage]]: the
    * thresholded corpus×probe cosine hit counts, grouped by `keyCol`
    * (`"id"` = per corpus doc, `"pid"` = per probe). ONE definition of
    * the scoring join so the two gates cannot silently diverge on the
    * cosine op order or the threshold comparison. */
  private def thresholdHits(corpus: DataFrame, probes: DataFrame,
                            threshold: Double, idCol: String,
                            vecCol: String, keyCol: String)
      : (DataFrame, DataFrame, DataFrame) = {
    val c = prep(corpus, idCol, vecCol)
      .withColumn("nrm", Vectors.norm(col("v")))
    val p = prep(probes, idCol, vecCol)
      .select(col("id").as("pid"), col("v").as("pv"))
      .withColumn("pnrm", Vectors.norm(col("pv")))
    val hits = c.join(broadcast(p),
        Vectors.dot(col("v"), col("pv")) / (col("nrm") * col("pnrm"))
          >= threshold)
      .groupBy(col(keyCol)).agg(count(lit(1)).as("n_hits"))
    (c, p, hits)
  }

  def semanticDecon(corpus: DataFrame, probes: DataFrame,
                    threshold: Double, idCol: String = "vec_id",
                    vecCol: String = "embedding"): DataFrame = {
    val (c, _, hits) =
      thresholdHits(corpus, probes, threshold, idCol, vecCol, "id")
    c.select(col("id")).join(hits, Seq("id"), "left")
      .select(col("id").as(idCol),
        coalesce(col("n_hits"), lit(0L)).as("n_hits"),
        (coalesce(col("n_hits"), lit(0L)) === 0L).as("kept"))
  }

  /** The probe-side transpose of [[semanticDecon]]: per EVAL item,
    * how many corpus vectors sit at cosine ≥ `threshold` — the report
    * an eval-set owner reads to decide which items are compromised
    * (an item with thousands of near-neighbors in the training corpus
    * measures memorization, not capability, and gets dropped from the
    * benchmark rather than scrubbing the corpus). Same regime and
    * cost as the decon gate — probes broadcast, one corpus pass — but
    * grouped by PROBE, and zero-hit probes survive via the left join
    * (they are the item-is-clean verdicts). */
  def probeLeakage(corpus: DataFrame, probes: DataFrame,
                   threshold: Double, idCol: String = "vec_id",
                   vecCol: String = "embedding"): DataFrame = {
    val (_, p, hits) =
      thresholdHits(corpus, probes, threshold, idCol, vecCol, "pid")
    p.select(col("pid")).join(hits, Seq("pid"), "left")
      .select(col("pid").as(idCol),
        coalesce(col("n_hits"), lit(0L)).as("n_hits"),
        (coalesce(col("n_hits"), lit(0L)) === 0L).as("clean"))
  }

  /** Hard-negative mining for contrastive / embedding training: for
    * each anchor (query) vector, the k most-similar corpus vectors
    * carrying a DIFFERENT label — the near-miss negatives that hold
    * the training signal (easy negatives are already far and teach
    * nothing). Same exact regime as [[bruteForceTopK]] — anchors
    * broadcast, one corpus pass — with the label-inequality predicate
    * applied BEFORE the top-k, so groups can never under-fill the way
    * post-filtering a label-blind top-k does. Output/tie rule mirror
    * [[exactKnnGraph]] (k-bounded heap, ascending-id ties). */
  def hardNegatives(emb: DataFrame, queries: DataFrame, k: Int,
                    idCol: String = "vec_id", vecCol: String = "embedding",
                    labelCol: String = "label"): DataFrame = {
    requireNumericId(emb, idCol, "hardNegatives")
    val c = emb.select(col(idCol).as("id"), col(labelCol).as("lbl"),
        Vectors.asDouble(col(vecCol)).as("v"))
      .withColumn("nrm", Vectors.norm(col("v")))
    val q = queries.select(col(idCol).as("qid"), col(labelCol).as("qlbl"),
        Vectors.asDouble(col(vecCol)).as("qv"))
      .withColumn("qnrm", Vectors.norm(col("qv")))
    val scored = c.join(broadcast(q), col("lbl") =!= col("qlbl"))
      .select(col("qid"), col("id"),
        (Vectors.dot(col("qv"), col("v")) / (col("qnrm") * col("nrm")))
          .as("sim"))
    scored.groupBy(col("qid"))
      .agg(graft.functions.aggs.top_k(
        struct(col("sim").as("s"), (-col("id")).as("ni")), k).as("top"))
      .select(col("qid"), posexplode(col("top")).as(Seq("r", "t")))
      .select(col("qid"), (-col("t.ni")).as(idCol),
        col("t.s").as("sim"), (col("r") + 1).cast("int").as("rank"))
  }

  def knnJoin(emb: DataFrame, k: Int, nPlanes: Int = 3, nTables: Int = 16,
              dim: Int = 64, maxBucket: Int = 10000,
              idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    requireNumericId(emb, idCol, "knnJoin")
    val corpus = prep(emb, idCol, vecCol)
    val buckets = bucketRows(corpus, planeTables(nPlanes, nTables, dim))
    // flood cap: a bucket holding maxBucket+ ids (near-constant vectors,
    // zero embeddings) would emit size² pairs — such buckets are
    // EXCLUDED from candidate generation (like the dedup family's
    // maxBucket bound). A vector whose every bucket floods in every
    // table emits no edges and is absent from the graph; recall
    // accounting in RECALL.md covers this, and consumers needing a row
    // per vector left-join the corpus back
    // surviving keys broadcast (two ints per non-flooded bucket): the
    // probe skips its exchange and the self-join's two identical
    // exchanges collapse to one — same knob and rationale as
    // Dedup.bucketPairs, kept textually parallel
    val bucketSizesRaw = buckets.groupBy(col("tbl"), col("bucket"))
      .agg(count(lit(1)).as("__n"))
      .filter(col("__n") <= maxBucket)
      .select(col("tbl"), col("bucket"))
    val bucketSizes =
      if (emb.sparkSession.conf
            .get("graft.lsh.broadcastSurvivingBuckets", "true").toBoolean)
        broadcast(bucketSizesRaw)
      else bucketSizesRaw
    val capped = buckets.join(bucketSizes, Seq("tbl", "bucket"))
    val a = capped.select(col("tbl"), col("bucket"), col("id").as("qid"))
    val b = capped.select(col("tbl"), col("bucket"), col("id"))
    // UNORDERED candidates (qid < id): the graph is symmetric, so each
    // pair pays its payload joins and cosine ONCE — the mirror edge is
    // restored after scoring by exploding the skinny (qid, id, sim)
    // row, when the 64-dim vectors are already dropped. cosine(a, b)
    // and cosine(b, a) are bit-identical (elementwise multiply
    // commutes, same summation order), so the mirrored sim is exactly
    // what scoring the reversed pair would have produced.
    val cand = a.join(b, Seq("tbl", "bucket"))
      .filter(col("qid") < col("id"))
      .select(col("qid"), col("id"))
      .dropDuplicates("qid", "id")
    // norms ride the per-side payload joins (one per row, not three
    // dot products per pair — bruteForceTopK's note; the commutativity
    // argument above is unchanged, qnrm*nrm ≡ nrm*qnrm bitwise)
    val withNrm = corpus.withColumn("nrm", Vectors.norm(col("v")))
    val scored = cand
      .join(withNrm.select(col("id"), col("v"), col("nrm")), Seq("id"))
      .join(withNrm.select(col("id").as("qid"), col("v").as("qv"),
        col("nrm").as("qnrm")), Seq("qid"))
      .withColumn("sim",
        Vectors.dot(col("qv"), col("v")) / (col("qnrm") * col("nrm")))
    val mirrored = scored.select(explode(array(
        struct(col("qid").as("q"), col("id").as("i"), col("sim").as("s")),
        struct(col("id").as("q"), col("qid").as("i"), col("sim").as("s"))))
        .as("e"))
      .select(col("e.q").as("qid"), col("e.i").as("id"), col("e.s").as("sim"))
    mirrored.groupBy(col("qid"))
      .agg(graft.functions.aggs.top_k(
        struct(col("sim").as("s"), (-col("id")).as("ni")), k).as("top"))
      .select(col("qid"), posexplode(col("top")).as(Seq("r", "t")))
      .select(col("qid"), (-col("t.ni")).as(idCol),
        col("t.s").as("sim"), (col("r") + 1).cast("int").as("rank"))
  }

  /** Corpus doublings above `refSize`: the smallest e ≥ 0 with
    * refSize·2^e ≥ n, computed in INTEGER arithmetic so the DuckDB
    * oracle's replay (`MIN(e) WHERE refSize * (1 << e) >= n`) cannot
    * diverge from a floating `ceil(log2(n/refSize))` at exact powers
    * of two. n ≤ 0 and n ≤ refSize both give 0. */
  def planeDoublings(n: Long, refSize: Long): Int = {
    require(refSize > 0, s"planeDoublings: refSize must be positive, got $refSize")
    // refSize·2^e ≥ n ⟺ refSize > (n−1) >> e — the shift form never
    // overflows, where (refSize << e) wraps negative for refSize ≥ 2³²
    // at high e and would silently run the loop to the 32 cap.
    var e = 0
    while (e < 32 && refSize <= ((n - 1) >> e)) e += 1
    e
  }

  /** Matryoshka truncation audit: recall@k of PREFIX-dimension cosine
    * top-k against the full-dimension ground truth, one row per
    * truncation width — the storage/latency question MRL embeddings
    * (Kusupati et al. 2022) pose: "how many dims can this corpus
    * drop before neighbor structure degrades?" Answered on the
    * corpus's OWN vectors, not the model card's benchmark.
    *
    * For each d in `dims`, the top-k graph over `vecCol[1..d]` is
    * intersected with the full-width graph ([[exactKnnGraph]] both
    * sides — same (sim DESC, id ASC) tie law, so the intersection is
    * well-defined), and the row is (dim, n_queries, hits,
    * recall_fp = hits·10⁶ div (k·n_queries)) — all integer once the
    * two top-k sets are fixed. Brute-force scoring bounds this to
    * eval-set corpora exactly like [[exactKnnGraph]] itself; at
    * corpus scale run it on a sampled slice (the q65/q92 split).
    * Prefix vectors must not be all-zero at the smallest d (cosine
    * undefined) — embedding models never emit zero leading blocks,
    * but a preprocessing bug could; the NaN sims would differ
    * between engines rather than fail silently. */
  def matryoshkaRecall(emb: DataFrame, dims: Seq[Int], k: Int,
                       idCol: String = "vec_id",
                       vecCol: String = "embedding"): DataFrame = {
    require(dims.nonEmpty, "matryoshkaRecall: dims must be non-empty")
    val full = exactKnnGraph(emb, k, idCol, vecCol)
      .select(col("qid"), col(idCol))
    val nq = broadcast(full.select(countDistinct(col("qid")).as("n_queries")))
    dims.map { d =>
      val sliced = emb.select(col(idCol),
        slice(col(vecCol), 1, d).as(vecCol))
      exactKnnGraph(sliced, k, idCol, vecCol)
        .select(col("qid"), col(idCol))
        .join(full, Seq("qid", idCol))
        .agg(count(lit(1)).as("hits"))
        .select(lit(d).as("dim"), col("hits"))
    }.reduce(_ unionAll _)
      .crossJoin(nq)
      // n_queries = 0 only on an empty corpus, where the oracle emits
      // zero rows — the filter matches that AND keeps the DIV below
      // from dividing by zero (a throw under spark.sql.ansi.enabled,
      // a silent null otherwise; both diverge from the oracle).
      .where(col("n_queries") > 0)
      .select(col("dim"), col("n_queries"), col("hits"),
        expr(s"(hits * 1000000) DIV (${k}L * n_queries)").as("recall_fp"))
  }

  /** [[knnJoin]] under the standard LSH sizing rule: hold per-bucket
    * occupancy ~constant by raising the plane count with the corpus —
    * `nPlanes = basePlanes + planeDoublings(n, refSize)`, one extra
    * sign bit per corpus doubling past the recall-calibrated reference
    * size. BENCH_SF1 measured why this is the 100 TB default: the
    * fixed-plane form fits exponent 1.35 over 1×–10× corpora (2³
    * buckets/table densify k-fold at a k-fold corpus, so bucket-local
    * pair work grows k²) while this sizing measures 0.47–0.83
    * across the r12/r13 runs and reads 2.7–7.4× faster at 10× —
    * linear-or-better candidate mass at the cost of recall that must
    * be bought back with `nTables` (RECALL.md).
    *
    * Costs ONE count() job up front — the corpus size decides the
    * plan, exactly as an index build inspects its input. Because
    * [[graft.sim.Vectors.seededPlanes]] draws planes sequentially from
    * one seeded stream per table, the planes used at `basePlanes + e`
    * are a strict prefix-extension of the planes at `basePlanes`:
    * below `refSize` this is bit-identical to `knnJoin` with the same
    * `basePlanes` (pinned by KnnScaledSpec). */
  def knnJoinScaled(emb: DataFrame, k: Int, basePlanes: Int = 3,
                    refSize: Long = 2000L, nTables: Int = 16, dim: Int = 64,
                    maxBucket: Int = 10000, idCol: String = "vec_id",
                    vecCol: String = "embedding"): DataFrame = {
    requireNumericId(emb, idCol, "knnJoinScaled")
    val n = emb.count()
    knnJoin(emb, k, nPlanes = basePlanes + planeDoublings(n, refSize),
      nTables = nTables, dim = dim, maxBucket = maxBucket,
      idCol = idCol, vecCol = vecCol)
  }
}
