package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Classifier evaluation over corpus segments — the report that
  * decides whether a quality gate's score is worth thresholding.
  * Both metrics are EXACT integer statistics (the q93 classifier
  * emits integer score codes, so nothing here touches IEEE until a
  * final display division, and the oracle replays every step):
  *
  * - [[aucBySegment]]: AUC as the Mann–Whitney rank-sum — the
  *   probability a random positive outranks a random negative, with
  *   the tie convention (counted 1/2) carried exactly by doubled
  *   midranks: an element in a tie run at positions p..p+c−1 takes
  *   `2·midrank = 2p + c − 1`, an integer.
  * - [[confusionAt]]: the TP/FP/FN/TN cell counts at a pinned score
  *   threshold plus fixed-point precision/recall/F1 codes.
  *
  * Scale: the AUC rank runs per segment — ranking is one shuffle on
  * the segment key, and segments are many (sources), so no global
  * sort; the confusion report is one conditional-count aggregate,
  * map-side combinable, four longs of state per segment.
  */
object Eval {
  /** Per-segment AUC of `scoreCol` (integral) predicting `labelCol`
    * (0/1): emits the exact doubled rank-sum `u2 = 2·U`, the class
    * sizes, and `auc_code = (1e6·u2) div (2·P·N)` (NULL when a class
    * is absent — an AUC of a one-class segment is undefined, never
    * 0.5 by fiat). */
  def aucBySegment(df: DataFrame, segCol: String, scoreCol: String,
                   labelCol: String): DataFrame = {
    val w = Window.partitionBy(col(segCol)).orderBy(col(scoreCol))
    val tie = Window.partitionBy(col(segCol), col(scoreCol))
    val ranked = df.select(col(segCol), col(scoreCol),
        col(labelCol).cast("long").as("y"))
      .withColumn("r2",
        // rank() is IntegerType: widen BEFORE the doubling or a
        // segment past 2^30 rows wraps r2 silently in non-ANSI mode
        lit(2L) * rank().over(w).cast("long")
          + count(lit(1)).over(tie) - 1)
    ranked.groupBy(col(segCol))
      .agg(sum("y").as("n_pos"),
        (count(lit(1)) - sum(col("y"))).as("n_neg"),
        (sum(when(col("y") === 1, col("r2")).otherwise(lit(0L)))
          - sum("y") * (sum("y") + 1)).as("u2"))
      .withColumn("auc_code",
        expr("CASE WHEN n_pos = 0 OR n_neg = 0 THEN NULL " +
          "ELSE (1000000 * u2) div (2 * n_pos * n_neg) END"))
  }

  /** Pinned 1e6-scale NDCG discounts `round(1e6 / log2(rank+1))` for
    * ranks 1..20 — a literal table (never a runtime `log`, whose
    * intrinsic is not bit-specified across JVMs/engines), shared with
    * the oracle via [[discountCaseSql]]. */
  private[graft] val ndcgDiscounts: Seq[Long] = Seq(
    1000000L, 630930L, 500000L, 430677L, 386853L, 356207L, 333333L,
    315465L, 301030L, 289065L, 278943L, 270238L, 262650L, 255958L,
    250000L, 244651L, 239812L, 235409L, 231378L, 227670L)

  /** The discount table as a SQL CASE over a rank expression. */
  def discountCaseSql(rank: String): String =
    ndcgDiscounts.zipWithIndex.map { case (d, i) =>
      s"WHEN $rank = ${i + 1} THEN $d"
    }.mkString("CASE ", " ", " ELSE 0 END")

  private def discountCol(rank: org.apache.spark.sql.Column)
      : org.apache.spark.sql.Column =
    ndcgDiscounts.zipWithIndex.foldRight(
      lit(0L): org.apache.spark.sql.Column) { case ((d, i), acc) =>
      when(rank === (i + 1), lit(d)).otherwise(acc)
    }

  /** NDCG@k per query over a ranked list and GRADED relevance:
    * `dcg_code = Σ grade·D(rank)` over ranked hits, `idcg_code` the
    * same sum over the ideal (grade-descending) order of that query's
    * relevant set truncated at k, `ndcg_code = (1e6·dcg) div idcg` —
    * exact integers end to end. The output covers the UNION of qids
    * seen in `ranked` (at rank <= k) and `relevant`: a query with an
    * empty relevant set still appears, with idcg_code and ndcg_code
    * NULL (undefined, never a silent drop and never 0 by fiat);
    * a query that was never ranked appears with dcg_code = 0 and
    * ndcg_code = 0 (it ranked nothing, the metric IS zero). `ranked`
    * needs (qid, doc_id, rank); `relevant` needs (qid, doc_id,
    * grade). */
  def ndcgAtK(ranked: DataFrame, relevant: DataFrame, k: Int): DataFrame = {
    require(k >= 1 && k <= ndcgDiscounts.size,
      s"k must be in [1, ${ndcgDiscounts.size}], got $k")
    val dcg = ranked.filter(col("rank") <= k)
      .join(relevant, Seq("qid", "doc_id"), "left")
      .select(col("qid"),
        (coalesce(col("grade"), lit(0L)) * discountCol(col("rank")))
          .as("g"))
      .groupBy("qid").agg(sum("g").as("dcg_code"))
    val wIdeal = Window.partitionBy(col("qid"))
      .orderBy(col("grade").desc, col("doc_id"))
    val idcg = relevant
      .withColumn("irank", row_number().over(wIdeal))
      .filter(col("irank") <= k)
      .select(col("qid"),
        (col("grade") * discountCol(col("irank"))).as("g"))
      .groupBy("qid").agg(sum("g").as("idcg_code"))
    // full outer: the output must be driven by the union of qids, or
    // ranked-only queries (empty relevant set) silently vanish while
    // relevant-only queries emit rows — an asymmetry a rank-eval
    // report reader would misread as "those queries were fine"
    idcg.join(dcg, Seq("qid"), "full_outer")
      .select(col("qid"),
        coalesce(col("dcg_code"), lit(0L)).as("dcg_code"),
        col("idcg_code"))
      .withColumn("ndcg_code",
        expr("CASE WHEN idcg_code IS NULL OR idcg_code = 0 THEN NULL " +
          "ELSE (1000000 * dcg_code) div idcg_code END"))
  }

  /** Kendall tau-b rank correlation per segment — "do these two
    * signals ORDER the corpus the same way?", the assumption-free
    * complement to q162's Pearson (which sees only linear structure).
    * All five pair classes are exact longs from one id-ordered
    * self-join; tau-b then takes q162's fixed-IEEE-op-sequence
    * discipline: one sqrt each side, one division, `round(·2^14)` —
    * identical instruction order in both engines, code 0 when either
    * side is all-ties (no ordering to correlate).
    *
    * Scale: pairs are per-segment O(n²) — the EVAL-SET operator, like
    * q65's exact oracle: right where segments are samples (thousands),
    * deliberately not the corpus path. */
  def kendallBySegment(df: DataFrame, segCol: String, xCol: String,
                       yCol: String, idCol: String): DataFrame = {
    val a = df.select(col(segCol), col(idCol).as("ia"),
      col(xCol).cast("long").as("xa"), col(yCol).cast("long").as("ya"))
    val b = df.select(col(segCol), col(idCol).as("ib"),
      col(xCol).cast("long").as("xb"), col(yCol).cast("long").as("yb"))
    val sgn = (col("xa") - col("xb")) * (col("ya") - col("yb"))
    a.join(b, Seq(segCol)).filter(col("ia") < col("ib"))
      .groupBy(col(segCol))
      .agg(count(lit(1)).as("n_pairs"),
        sum(when(sgn > 0, 1L).otherwise(0L)).as("nc"),
        sum(when(sgn < 0, 1L).otherwise(0L)).as("nd"),
        sum(when(col("xa") === col("xb") && col("ya") =!= col("yb"), 1L)
          .otherwise(0L)).as("tie_x"),
        sum(when(col("ya") === col("yb") && col("xa") =!= col("xb"), 1L)
          .otherwise(0L)).as("tie_y"))
      .withColumn("tau_b_code",
        when(col("nc") + col("nd") + col("tie_x") === 0 ||
          col("nc") + col("nd") + col("tie_y") === 0, lit(0L))
          .otherwise(round(
            (col("nc") - col("nd")).cast("double") /
              (sqrt((col("nc") + col("nd") + col("tie_x")).cast("double"))
                * sqrt((col("nc") + col("nd") + col("tie_y"))
                  .cast("double"))) * lit(16384.0)).cast("long")))
  }

  /** CORPUS-SCALE twin of [[kendallBySegment]] — byte-identical
    * output (it carries q184's own DuckDB oracle as q187, the q38/q52
    * pattern) from a segmented O(n log n) inversion count instead of
    * the per-segment O(n²) pair join.
    *
    * The algebra: order each segment by the tie-free total order
    * (x, y, id) and let `D` be the strict y-inversions over that
    * order — pairs earlier-position/larger-y. An x-tied pair is
    * ordered y-ascending, so it can never invert, and y-ties are
    * excluded by strictness: `D` is EXACTLY the discordant count
    * {x_a < x_b ∧ y_a > y_b}. Every other pair class is a group-by:
    * one (seg, x, y) cell frame yields the both-tied, x-tied and
    * y-tied pair counts (Σ C(c,2) over the right marginals), and
    * concordant falls out by subtraction from n(n−1)/2.
    *
    * `D` itself is the merge-sort rank trick run on the
    * [[Quantiles.segmentedRowNumber]] machinery q52/q185 use:
    *  1. position `rn` within (segment, (x, y, id)) — two-phase, no
    *     per-segment reducer — splits each segment into `nBuckets`
    *     balanced position ranges;
    *  2. log2(nBuckets) merge rounds: at round r, buckets pair into
    *     groups of 2^r, and for an element of a LEFT (even) sub-block
    *     the difference `rank within round-r group − rank within its
    *     round-(r−1) sub-block` under the tie-free key (y, rn) counts
    *     exactly the right-sibling elements with smaller key — i.e.
    *     the cross-sub-block inversions that pair contributes, each
    *     pair split at exactly one round. Each round's rank is
    *     another segmentedRowNumber — every pass a linear scan, no
    *     join of the data against itself anywhere in the plan;
    *  3. within-bucket inversions: a per-(segment, bucket) Fenwick
    *     pass ([[bufferedInversions]]) — O(m log m) time, O(m) memory
    *     for m ≈ n/nBuckets rows; raise nBuckets as segments grow, the
    *     way q52 raises its bucket count. Parallelism is
    *     |segments|·nBuckets throughout.
    *
    * Each rank round is pinned LAZILY ([[Pins.pin]] with
    * `eager = false`), which truncates the ~4^rounds logical plan
    * growth while deferring block materialization to the next
    * round's first consumer (interleaved A/B at sf0.1: lazy 6.4–6.7 s
    * vs eager 7.3–7.5 s min-of-5 — eager paid a dedicated job per
    * round). By default the blocks land on executors, so it is NOT
    * executor-loss-tolerant: on a real cluster a lost executor fails
    * the job. `graft.checkpoint.reliable` makes every round's pin
    * DFS-backed instead, trading one checkpoint write per round for
    * fault tolerance; output is pin-independent (PinsSpec).
    *
    * Inputs must be non-null in `xCol`/`yCol` (enforced in-plan, the
    * ZOrder guard discipline): the O(n²) form's pair algebra counts a
    * null-valued pair in n_pairs but NO class, a semantics nothing
    * downstream should rely on. `idCol` must be UNIQUE within each
    * segment: the pair form's `a.id < b.id` predicate silently drops
    * duplicate-id pairs, while this form counts all C(n,2) pairs via
    * the (x, y, id) total order, so duplicated ids make the two forms
    * diverge without error. Pass `requireUniqueIds = true` to enforce
    * it in-plan (the ZOrder guard discipline: a raise_error CASE as a
    * +0 term on `__x`) — opt-in because the check is one extra
    * (segment, id)-keyed window shuffle over the corpus; turn it on
    * when ids come from an un-audited upstream, off when the id is a
    * generated key whose uniqueness is already contractual. Like the
    * pair form, single-row segments emit nothing (no pairs to
    * classify). n(n−1)/2 is exact through DECIMAL(38,0) then lands in
    * the oracle's BIGINT. */
  def kendallBySegmentScalable(df: DataFrame, segCol: String,
                               xCol: String, yCol: String, idCol: String,
                               nBuckets: Int = 32,
                               requireUniqueIds: Boolean = false): DataFrame = {
    require(nBuckets >= 2 && (nBuckets & (nBuckets - 1)) == 0,
      s"nBuckets must be a power of two >= 2, got $nBuckets")
    val rounds = java.lang.Integer.numberOfTrailingZeros(nBuckets)
    val spark = df.sparkSession
    import spark.implicits._
    def guarded(c: String) =
      when(col(c).isNull, raise_error(lit(
        s"kendallBySegmentScalable: null $c — the pair form counts " +
          "null pairs in n_pairs but no class; filter or impute first")))
        .otherwise(col(c).cast("long"))
    val base0 = df.select(col(segCol), guarded(xCol).as("__x"),
      guarded(yCol).as("__y"), col(idCol).as("__id"))
    val base = if (!requireUniqueIds) base0 else {
      val wid = org.apache.spark.sql.expressions.Window
        .partitionBy(col(segCol), col("__id"))
      base0
        .withColumn("__idc", count(lit(1)).over(wid))
        .withColumn("__x", col("__x") +
          when(col("__idc") > 1, raise_error(concat(
            lit("kendallBySegmentScalable: duplicate id within segment: "),
            col("__id").cast("string"))).cast("long"))
            .otherwise(lit(0L)))
        .drop("__idc")
    }

    // -- pair classes that are pure group-bys: one (seg, x, y) cell
    // frame, then tiny marginal rollups (pairsOf = C(c, 2), exact).
    val cells = base.groupBy(col(segCol).as("__tseg"), col("__x"),
      col("__y")).agg(count(lit(1)).as("__c"))
    val byX = cells.groupBy(col("__tseg").as("__xseg"), col("__x"))
      .agg(sum("__c").as("__cx"),
        sum(expr("(__c * (__c - 1)) div 2")).as("__pxy"))
    val frameA = byX.groupBy(col("__xseg"))
      .agg(sum("__cx").as("__nseg"),
        sum(expr("(__cx * (__cx - 1)) div 2")).as("__tx_all"),
        sum("__pxy").as("__txy"))
    val frameB = cells.groupBy(col("__tseg").as("__yseg"), col("__y"))
      .agg(sum("__c").as("__cy"))
      .groupBy(col("__yseg"))
      .agg(sum(expr("(__cy * (__cy - 1)) div 2")).as("__ty_all"))

    // -- discordant = y-inversions over the (x, y, id) position order.
    // Position + balanced position-range buckets (rn is uniform by
    // construction, so the bucket split needs no second sketch).
    val positioned = Quantiles.segmentedRowNumber(base, segCol, "__x",
        Seq(col("__x"), col("__y"), col("__id")), nBuckets)
      .withColumn("__xbkt", expr(
        s"CAST((CAST(__rn - 1 AS DECIMAL(38,0)) * $nBuckets) div __n AS INT)"))
      .withColumn("__ord", col("__rn"))
      // a null segment is one real partition to the pair form too.
      // The U+0000 sentinel collides only with a segment whose cast
      // output is itself the one-char NUL string — no cast of the
      // supported segment types produces it
      .withColumn("__segs",
        coalesce(col(segCol).cast("string"), lit("\u0000")))
      .select(col("__segs"), col("__xbkt"), col("__ord"), col("__y"))
    val segMap = base.select(col(segCol),
        coalesce(col(segCol).cast("string"), lit("\u0000")).as("__segs"))
      .distinct()

    // merge rounds: rank under (y, ord) within (seg, bucket >> r);
    // ord is unique per segment, so every rank is tie-free. Each
    // round is pinned lazily — segmentedRowNumber branches its input's
    // lineage (bounds, offsets), so chaining log2(B) calls lazily
    // grows the LOGICAL plan ~4^rounds and analysis time with it; the
    // pin truncates to a materialized plan per round, the
    // IngestLoop/Dedup discipline (see the scaladoc for the
    // cluster-scale reliable pin). The per-segment totals then come
    // back via one BOUNDED collect (|segments| rows, the watermark
    // rule) so the returned frame holds no block refs.
    def rankRound(d: DataFrame, r: Int): DataFrame =
      Quantiles.segmentedRowNumber(
        d.withColumn("__grp", concat(col("__segs"), lit("|"),
          shiftright(col("__xbkt"), r).cast("string"))),
        "__grp", "__y", Seq(col("__y"), col("__ord")), 8)
        .drop("__n", "__grp")
    var cur = rankRound(positioned, 0)
      .withColumnRenamed("__rn", "__rprev")
      .withColumn("__d", lit(0L))
      .transform(Pins.pin(_, eager = false))
    for (r <- 1 to rounds) {
      cur = rankRound(cur, r)
        .withColumn("__d", col("__d") +
          when(shiftright(col("__xbkt"), r - 1) % 2 === 0,
            col("__rn") - col("__rprev")).otherwise(lit(0L)))
        .drop("__rprev").withColumnRenamed("__rn", "__rprev")
        .transform(Pins.pin(_, eager = false))
    }
    val dCrossRows = cur.groupBy(col("__segs"))
      .agg(sum("__d").as("__d_cross")).collect()
    val dCross = spark.createDataFrame(
      spark.sparkContext.parallelize(dCrossRows.toSeq, 1),
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("__cseg",
          org.apache.spark.sql.types.StringType, nullable = false),
        org.apache.spark.sql.types.StructField("__d_cross",
          org.apache.spark.sql.types.LongType, nullable = true))))
    val dIntra = positioned
      .select(col("__segs"), col("__xbkt"), col("__ord"), col("__y"))
      .as[(String, Int, Long, Long)]
      .groupByKey(t => (t._1, t._2))
      .mapGroups { (k, it) =>
        (k._1, bufferedInversions(it.map(t => (t._3, t._4)).toArray))
      }
      .toDF("__iseg", "__di")
      .groupBy(col("__iseg")).agg(sum("__di").as("__d_intra"))

    // -- assembly: every frame here is |segments| rows — broadcast.
    frameA
      .join(broadcast(frameB), col("__xseg") <=> col("__yseg"))
      .join(broadcast(segMap), col(segCol) <=> col("__xseg"))
      .join(broadcast(dCross), col("__segs") === col("__cseg"))
      .join(broadcast(dIntra), col("__segs") === col("__iseg"))
      .withColumn("n_pairs", expr(
        "CAST((CAST(__nseg AS DECIMAL(38,0)) * (__nseg - 1)) div 2 AS BIGINT)"))
      .filter(col("n_pairs") > 0)
      .withColumn("nd", col("__d_cross") + col("__d_intra"))
      .withColumn("tie_x", col("__tx_all") - col("__txy"))
      .withColumn("tie_y", col("__ty_all") - col("__txy"))
      .withColumn("nc", col("n_pairs") - col("nd") - col("__tx_all")
        - col("__ty_all") + col("__txy"))
      .withColumn("tau_b_code",
        when(col("nc") + col("nd") + col("tie_x") === 0 ||
          col("nc") + col("nd") + col("tie_y") === 0, lit(0L))
          .otherwise(round(
            (col("nc") - col("nd")).cast("double") /
              (sqrt((col("nc") + col("nd") + col("tie_x")).cast("double"))
                * sqrt((col("nc") + col("nd") + col("tie_y"))
                  .cast("double"))) * lit(16384.0)).cast("long")))
      .select(col(segCol), col("n_pairs"), col("nc"), col("nd"),
        col("tie_x"), col("tie_y"), col("tau_b_code"))
  }

  /** Strict y-inversions of one buffered bucket: pairs with smaller
    * `ord` and strictly larger `y`. Sort by ord, compress y to dense
    * ranks, then one Fenwick-tree pass — each element adds the count
    * of already-inserted elements whose y exceeds its own. O(m log m)
    * time, O(m) space; the in-memory endgame of the merge-sort
    * decomposition, bounded by the bucket split above it. */
  private[graft] def bufferedInversions(rows: Array[(Long, Long)]): Long = {
    if (rows.length < 2) return 0L
    scala.util.Sorting.stableSort(rows,
      (a: (Long, Long), b: (Long, Long)) => a._1 < b._1)
    val ys = rows.map(_._2).distinct.sorted
    val tree = new Array[Long](ys.length + 1)
    var inv = 0L
    var inserted = 0L
    var i = 0
    while (i < rows.length) {
      val r = java.util.Arrays.binarySearch(ys, rows(i)._2) + 1
      // prefix(r) = inserted with y <= y_i; the rest are strictly above
      var j = r
      var le = 0L
      while (j > 0) { le += tree(j); j -= j & -j }
      inv += inserted - le
      j = r
      while (j <= ys.length) { tree(j) += 1L; j += j & -j }
      inserted += 1L
      i += 1
    }
    inv
  }

  /** Per-segment confusion cells at `predicted = score >= threshold`,
    * plus 1e-6 fixed-point precision/recall/F1. Degenerate segments
    * emit NULL codes (no positives predicted, no positives present)
    * rather than an arbitrary zero. */
  def confusionAt(df: DataFrame, segCol: String, scoreCol: String,
                  labelCol: String, threshold: Long): DataFrame = {
    val p = (col(scoreCol) >= threshold).cast("long")
    val y = col(labelCol).cast("long")
    df.groupBy(col(segCol))
      .agg(sum(p * y).as("tp"),
        sum(p * (lit(1L) - y)).as("fp"),
        sum((lit(1L) - p) * y).as("fn"),
        sum((lit(1L) - p) * (lit(1L) - y)).as("tn"))
      .withColumn("precision_code",
        expr("CASE WHEN tp + fp = 0 THEN NULL " +
          "ELSE (1000000 * tp) div (tp + fp) END"))
      .withColumn("recall_code",
        expr("CASE WHEN tp + fn = 0 THEN NULL " +
          "ELSE (1000000 * tp) div (tp + fn) END"))
      // F1 = 2tp / (2tp + fp + fn), computed from the exact cells —
      // NOT from the rounded precision/recall codes
      .withColumn("f1_code",
        expr("CASE WHEN 2 * tp + fp + fn = 0 THEN NULL " +
          "ELSE (2000000 * tp) div (2 * tp + fp + fn) END"))
  }

  /** Reliability diagram (calibration curve) per segment — the
    * binned audit [[graft.functions.aggs.IsotonicFit]]'s fitted
    * curve (q192) summarizes: rank the scored rows into `bins`
    * equal-count bands by (score, id) and report each band's
    * observed positive rate against its score span. A calibrated
    * classifier's rate climbs with the band; a flat or sawtooth
    * diagram is the overfit/underfit tell (Niculescu-Mizil & Caruana
    * 2005's diagnostic). Banding is `ntile` over the (score ASC, id
    * ASC) total order — both engines define ntile identically
    * (earlier bands take the remainder), so the bands and every
    * count are exact; `rate_fp = pos·10⁶ div n` is one integral
    * division. Output per (segment, band): n, n_pos, score_lo/hi,
    * rate_fp. One rank window per segment, then a |segments·bins|
    * aggregate — the q180 shuffle shape. */
  def reliabilityBins(df: DataFrame, segCol: String, scoreCol: String,
                      idCol: String, labelCol: String,
                      bins: Int = 10): DataFrame = {
    require(bins >= 2, s"reliabilityBins: bins must be >= 2, got $bins")
    val w = Window.partitionBy(col(segCol))
      .orderBy(col("__s").asc, col(idCol).asc)
    df.select(col(segCol), col(scoreCol).cast("long").as("__s"),
        col(idCol), col(labelCol).cast("long").as("__y"))
      .withColumn("band", ntile(bins).over(w))
      .groupBy(col(segCol), col("band"))
      .agg(count(lit(1)).as("n"), sum(col("__y")).as("n_pos"),
        min(col("__s")).as("score_lo"), max(col("__s")).as("score_hi"))
      .withColumn("rate_fp", expr("(n_pos * 1000000) DIV n"))
  }
}
