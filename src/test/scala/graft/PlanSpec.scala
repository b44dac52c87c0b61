package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import graft.queries.Builds

/** Physical-plan regressions: the scale posture (pushdown, pruning,
  * broadcast choice, shuffle count) must not silently erode. */
class PlanSpec extends SparkTestBase {

  private def planString(df: DataFrame): String = {
    df.queryExecution.executedPlan.toString
  }
  private def finalPlan(df: DataFrame) = {
    // force execution so AQE settles
    df.write.format("noop").mode("overwrite").save()
    df.queryExecution.executedPlan match {
      case a: AdaptiveSparkPlanExec => a.executedPlan
      case p => p
    }
  }
  private def q(name: String) = SparkEntry.queries(name)(spark, sf)

  // pre-AQE plan: AdaptiveSparkPlanExec hides children from collect
  private def scans(df: DataFrame): Seq[FileSourceScanExec] =
    df.queryExecution.sparkPlan.collect { case f: FileSourceScanExec => f }

  test("q01: shipdate filter pushed to the parquet scan, columns pruned") {
    val df = q("q01_pricing_summary")
    val s = planString(df)
    assert(s.contains("PushedFilters: [IsNotNull(l_shipdate), LessThanOrEqual(l_shipdate"), s)
    val scan = scans(df).head
    assert(!scan.requiredSchema.fieldNames.contains("l_orderkey"),
      "scan should not read unused key columns")
  }

  test("q03: dimension joins are broadcast, not shuffle") {
    val p = finalPlan(q("q03_region_revenue"))
    val s = p.toString
    assert(s.contains("BroadcastHashJoin"), s)
    assert(!s.contains("SortMergeJoin"), s)
  }

  test("q09: single aggregation exchange, partial aggregation map-side") {
    val p = finalPlan(q("q09_monthly_report"))
    val shuffles = p.collect { case e: ShuffleExchangeExec => e }
    assert(shuffles.size == 1, s"expected 1 exchange, got ${shuffles.size}:\n$p")
    val s = p.toString
    assert(s.contains("HashAggregate"), s)
  }

  test("q02: projection prunes the lineitem scan to the 5 used columns") {
    val scan = scans(q("q02_filter_project")).head
    assert(scan.requiredSchema.fields.length == 5,
      scan.requiredSchema.treeString)
  }

  test("q93: classifier is a pure scan→project — no exchange, pruned, WSCG") {
    val df = q("q93_quality_classifier")
    val p = df.queryExecution.executedPlan
    assert(p.collect { case e: ShuffleExchangeExec => e }.isEmpty,
      s"per-row scoring must not shuffle:\n$p")
    val scan = scans(df).head
    assert(scan.requiredSchema.fieldNames.toSet == Set("doc_id", "text"),
      scan.requiredSchema.treeString)
    val s = planString(df)
    assert(s.contains("PushedFilters: [IsNotNull(text)]"), s)
    // the tokenize + kernel must stay inside whole-stage codegen (the
    // reason ws_tokens/ClassifierScore64 exist instead of HOF chains):
    // every Project in the plan carries the *(n) codegen marker
    val bareProjects = s.linesIterator
      .filter(l => l.contains("Project") && !l.contains("*("))
    assert(bareProjects.isEmpty,
      s"projection fell out of WholeStageCodegen:\n$s")
  }

  test("q24: broadcast index join, pure lazy plan, cartesian-free") {
    // The production query eagerly checkpoints (its returned plan is a
    // bare checkpoint scan), so pin the lazy twin — the identical plan
    // minus the materialization wrapper. Intended shape (measured
    // 12.8 s → 4.2 s at sf0.1, see Dedup.exactSimilarityPairs):
    //  - the candidate join broadcasts the flat prefix index (no
    //    shuffle; partial-agg pair keys disjoint per id partition),
    //  - the lazy path is PURE: no persist (the eager path caches the
    //    flat prefix frame internally and releases it before
    //    returning; the lazy twin must not leak driver cache state),
    //  - recompute stays bounded: 2 consumers × (toks + df agg)
    //    + 2 verify join-backs = at most 6 scans.
    val df = graft.dedup.Dedup.exactNgramJaccardPairs(
      Tables.documents(spark, sf), "doc_id", "text",
      n = 5, threshold = 0.4, eager = false)
    val s = planString(df)
    assert(s.contains("BroadcastHashJoin"), s)
    assert(!s.contains("InMemoryTableScan") && !s.contains("InMemoryRelation"),
      "lazy path must not persist (cache leak):\n" + s)
    assert(!s.contains("CartesianProduct"), s)
    assert(scans(df).size <= 6, s"expected at most 6 documents scans, got ${scans(df).size}")
  }

  test("q47: resolution reads the persisted pair graph, never the corpus") {
    // The medallion shape: the similarity join materializes the pair
    // graph once (its cost is q24's measurement); the declared q47
    // resolves components off the persisted table. Its plan must scan
    // the dup_pairs artifact only — no documents scan, no shingle
    // explode, no prefix window, no similarity join.
    val df = q("q47_dup_components")
    // (the returned frame is an eager checkpoint — Scan ExistingRDD —
    // so the no-corpus-scan property is pinned on the RESOLUTION INPUT:
    // the artifact table must exist and read as a bare parquet scan;
    // CurationSpec pins the same for componentsFromCatalog directly)
    val (cat, table) = Builds.pairGraphTable(spark, sf, threshold = 0.4)
    assert(cat.exists(spark, table))
    val pairScan = cat.read(spark, table).queryExecution.sparkPlan.toString
    assert(pairScan.contains("dup_pairs"), pairScan.take(2000))
    assert(!pairScan.contains("documents.parquet"), pairScan.take(2000))
    // output still identical to the self-contained closure
    val fresh = graft.dedup.Dedup.connectedComponents(
      graft.dedup.Dedup.exactNgramJaccardPairs(
        Tables.documents(spark, sf), "doc_id", "text", n = 5, threshold = 0.4))
    assert(df.orderBy("id").collect().toSeq ==
      fresh.orderBy("id").collect().toSeq)
  }

  test("dedup candidate generation enforces the flood cap without a Window") {
    // bucketPairs (shared by the minhash/simhash/embedding candidate
    // generators) must gate oversized buckets with a map-side
    // combinable aggregate + semi-join — the knnJoin shape — not a
    // `count(*) over (bucket partition)` window, which would funnel a
    // whole flood bucket through one task before the cap can drop it.
    // simhashPairs and embeddingPairs return pure plans through the
    // same helper, so pinning them pins the minhash path too.
    val docs = Tables.documents(spark, sf)
    val emb = Tables.embeddings(spark, sf)
    for ((name, df) <- Seq(
        "simhash" -> graft.dedup.Dedup.simhashPairs(docs, "doc_id", "text", eager = false),
        "embedding" -> graft.dedup.Dedup.embeddingPairs(emb, "vec_id", "embedding"))) {
      val s = planString(df)
      assert(!s.contains("Window"),
        s"$name candidate plan must not contain a Window over the bucket frame:\n$s")
      assert(s.contains("HashAggregate"), s"$name: expected the bucket-size aggregate:\n$s")
    }
  }

  test("q25: multi-table LSH probes broadcast; no cartesian anywhere") {
    val p = finalPlan(q("q25_ann_lsh"))
    val s = p.toString
    assert(s.contains("BroadcastHashJoin"), s)
    assert(!s.contains("CartesianProduct"), s)
  }

  test("q42: IVF centroid assignment broadcasts the centroid set") {
    val p = finalPlan(q("q42_ann_ivf"))
    val s = p.toString
    assert(s.contains("BroadcastNestedLoopJoin") || s.contains("BroadcastHashJoin"), s)
    assert(!s.contains("CartesianProduct"), s)
  }

  test("q207: no single-partition exchange ever carries vocabulary rows") {
    // the r13 form ranked the vocabulary with an unpartitioned
    // row_number window — one Exchange SinglePartition sorting every
    // distinct gram through one task. The two-phase rank's only
    // remaining single-partition exchange is the offsets window over
    // the BUCKET-COUNT frame (≤ nBuckets rows, driver-scale whatever
    // the corpus): assert every such exchange feeds from the __bkt
    // aggregate, never from raw vocab/gram rows.
    // The vocab rank materializes via localCheckpoint inside
    // containmentImpl, so its subplan (where the bucket-frame
    // exchange lives) is not visible in q207's final plan at all —
    // zero single-partition exchanges is the strongest outcome; any
    // that DO appear must feed from the __bkt bucket-count frame.
    val p = finalPlan(q("q207_containment"))
    val singles = p.collect {
      case e: ShuffleExchangeExec if e.outputPartitioning.numPartitions == 1 => e
    }
    singles.foreach { e =>
      assert(e.child.toString.contains("__bkt"),
        s"single-partition exchange over a non-bucket-frame input:\n$e")
    }
  }

  test("q33: set-op classification is one scan + one exchange") {
    val df = q("q33_set_ops")
    assert(scans(df).size == 1,
      s"expected a single lineitem scan, got ${scans(df).size}")
    val p = finalPlan(df)
    val shuffles = p.collect { case e: ShuffleExchangeExec => e }
    assert(shuffles.size == 1, s"expected 1 exchange, got ${shuffles.size}:\n$p")
  }
}
