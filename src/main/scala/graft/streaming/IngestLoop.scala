package graft.streaming

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.catalog.TableCatalog
import graft.dedup.Dedup
import graft.ops.{BloomGate, Pins}
import graft.text.TextFunctions

/** The production ingest loop: one tick (a micro-batch from
  * `foreachBatch`, or a daily delta) folded through every standing
  * corpus artifact this library maintains — the composition q84, q89
  * and q90 each prove one stage of.
  *
  * Per tick, with `|batch| = b` and corpus size `N`:
  *   1. EXACT GATE — [[BloomGate.newRowsFromCatalog]] drops rows whose
  *      content fingerprint the corpus already holds (bloom narrows,
  *      an exact join confirms; one corpus scan, zero shuffles).
  *   2. PAIR DISCOVERY — [[Dedup.incrementalPairsFromCatalogWithProbe]]
  *      finds every near-dup pair touching the survivors off the
  *      persisted prefix index (batch-scale probe, frozen token
  *      order), measuring vocabulary drift and producing the batch's
  *      index rows from the SAME materialized probe.
  *   3. COMPONENT FOLD — [[Dedup.incrementalComponentsDelta]] reduces
  *      those pairs to a delta-scale (remap, newNodes) pair against
  *      the standing cluster assignment; the assignment itself is
  *      stored PARTITIONED BY ID-HASH (`State.componentParts`), so the
  *      apply rewrites only the partitions holding touched rows —
  *      never the corpus (id-hash, not component-hash: a row's id
  *      never changes, so no row ever migrates between partitions and
  *      no replaced partition can empty out).
  *   4. STATE APPEND — survivors enter the corpus table, their prefix
  *      rows the index (ALWAYS as an append on the frozen order — a
  *      drift-tripped rebuild is a separate maintenance op, see
  *      below), their fingerprints the bloom (lossless bit-OR) — so
  *      tick t+1 sees tick t.
  *
  * Every stage is O(batch ∪ touched-partitions) except the
  * unavoidable corpus SCANS (gate confirm, pair verification) —
  * nothing corpus-scale is ever exchanged OR rewritten by a tick.
  * IngestLoopSpec proves the loop ≡ batch: after any sequence of
  * ticks the corpus table equals one exact-dedup over the arrivals,
  * and the components table equals a from-scratch
  * [[Dedup.connectedComponents]] over the final corpus's pair graph.
  *
  * CRASH POSTURE — a tick is fenced by an intent-marker protocol (the
  * same family as [[graft.nyc.NycPipeline]]'s gold append and
  * `ParquetCatalog.compact`): all reads and similarity work happen
  * first, then the tick's COMPLETE roll-forward artifacts are STAGED
  * to side tables — the survivors, the batch's prefix-index rows, the
  * full replacement CONTENT of every touched component partition, and
  * the already-MERGED bloom bytes, all delta-scale — then a tiny
  * marker commits the intent, then the four state writes land, then
  * the marker drops. A crash before the marker mutates nothing a
  * re-run would double-count (staging tables are inert without the
  * marker; an unreadable or rowless marker means the crash hit the
  * marker write itself and is treated exactly the same — dropped and
  * ignored). A crash after the marker is ROLLED FORWARD by
  * [[recoverPendingTick]] from the staged artifacts alone — recovery
  * never recomputes from the possibly-damaged standing tables:
  *   - the component write REPLACES each touched partition with its
  *     staged content, so even a crash INSIDE the backend's
  *     delete-then-rename partition overwrite (which can momentarily
  *     destroy a whole partition) is repaired by re-running it — every
  *     partition that could have been touched is rewritten wholesale
  *     from staged rows;
  *   - the bloom install overwrites from the staged pre-merged bytes
  *     (never read-merge-overwrite, which would lose the only copy to
  *     a crash mid-overwrite);
  *   - corpus and prefix appends anti-join out ids that already landed
  *     (each id's rows commit atomically: both appends route every
  *     id through one task file).
  * Re-running the crashed batch afterwards is a pure re-ingest tick:
  * the gate sees the recovered corpus and passes nothing.
  *
  * DRIFT & REBUILD — when a tick's [[Dedup.prefixIndexDrift]] crosses
  * `State.maxUnseenPrefixShare`, the tick does NOT rebuild: it appends
  * on the frozen order (sound — output pairs are exact under any
  * consistent order) and records a rebuild REQUEST. The rebuild itself
  * — a corpus-scale re-tokenization that would otherwise stall ingest
  * for the duration — runs as a separate fenced maintenance op
  * ([[maintainPrefixIndex]]) between ticks: stage the new index under
  * a fresh vocabulary snapshot, commit a swap marker, install, drop.
  * A crash mid-swap is rolled forward at the head of the next tick or
  * maintenance call, BEFORE any new append — so no tick can append to
  * an old index that a completed-but-unswapped rebuild would then
  * clobber. Callers are sequential by contract (one `foreachBatch`
  * loop); ticks and maintenance never interleave. */
object IngestLoop {
  /** Standing-state table names; `build` creates them all from a seed
    * corpus. `maxUnseenPrefixShare` is the [[Dedup.prefixIndexDrift]]
    * threshold above which a tick REQUESTS an index rebuild (picked up
    * by [[maintainPrefixIndex]]) — pairs are identical either way (the
    * frozen order is sound); what a rebuild restores is the
    * rarest-first candidate-MASS guarantee the frozen snapshot erodes
    * under vocabulary drift. `componentParts` is the assignment
    * table's id-hash partition count — size it so one partition's rows
    * fit a task comfortably (thousands at corpus scale; the per-tick
    * rewrite touches only partitions holding remapped or new rows). */
  final case class State(corpus: String, bloom: String, prefixIndex: String,
                         components: String, idCol: String = "doc_id",
                         textCol: String = "text",
                         threshold: Double = 0.4, ngramN: Int = 5,
                         bloomItems: Long = (1L << 22),
                         maxUnseenPrefixShare: Double = 0.5,
                         componentParts: Int = 64)

  private def stagedSurvivors(st: State) = s"${st.corpus}__tick_survivors"
  private def stagedPrefixRows(st: State) = s"${st.corpus}__tick_prefix"
  private def stagedComponents(st: State) = s"${st.corpus}__tick_components"
  private def stagedBloom(st: State) = s"${st.corpus}__tick_bloom"
  private def tickMarker(st: State) = s"${st.corpus}__tick_pending"
  private def rebuildRequest(st: State) = s"${st.prefixIndex}__rebuild_requested"
  private def rebuildStage(st: State) = s"${st.prefixIndex}__rebuild"
  private def swapMarker(st: State) = s"${st.prefixIndex}__swap_pending"
  private val indexSuffixes = Seq("", "__vocab", "__meta")

  private def withFp(df: DataFrame, st: State): DataFrame =
    df.withColumn("__fp", TextFunctions.fingerprint(col(st.textCol)))

  private def setsOf(df: DataFrame, st: State): DataFrame =
    df.select(col(st.idCol),
      Dedup.charNgrams(col(st.textCol), st.ngramN).as("set"))

  private def partOf(st: State, id: Column): Column =
    pmod(xxhash64(id), lit(st.componentParts))

  /** Initialize every artifact from the seed corpus (exact-deduped
    * first — the corpus table's invariant is fingerprint-unique). The
    * corpus table STORES each row's content fingerprint (`__fp`): the
    * gate's corpus side is then a column-pruned scan of stored hashes
    * instead of a per-tick re-hash of every corpus text (measured:
    * the dominant cost of a quiescent tick at sf0.1). */
  def build(seed: DataFrame, catalog: TableCatalog, st: State): Unit = {
    // fail at SETUP, not mid-protocol: the component rewrite depends
    // on genuine partition-replace, and a backend that throws after a
    // tick's commit marker is down would wedge recovery forever
    require(catalog.supportsPartitionReplace,
      s"IngestLoop needs a catalog with partition-replace semantics; " +
        s"${catalog.getClass.getName} reports none")
    val unique = Pins.pin(
      withFp(Dedup.exactDedup(seed, st.idCol, st.textCol), st))
    catalog.overwrite(unique, st.corpus)
    BloomGate.buildBloomIndex(unique, "__fp", catalog,
      st.bloom, expectedItems = st.bloomItems)
    Dedup.buildPrefixIndex(setsOf(unique, st), st.idCol, st.threshold,
      catalog, st.prefixIndex)
    val pairs = Dedup.exactSimilarityPairs(
      setsOf(unique, st), st.idCol, st.threshold)
    catalog.overwrite(
      Dedup.connectedComponents(pairs.select("id_a", "id_b"))
        .withColumn("__part", partOf(st, col("id"))),
      st.components, partitionBy = Seq("__part"))
  }

  /** The standing assignment as its logical (id, component) self. */
  def readComponents(spark: SparkSession, catalog: TableCatalog,
                     st: State): DataFrame =
    catalog.read(spark, st.components).select(col("id"), col("component"))

  /** One tick. Returns the batch's SURVIVORS (the rows that entered
    * the corpus) so a `foreachBatch` caller can fan them onward.
    *
    * Dedup keeps the FIRST ARRIVAL of a fingerprint (the standing
    * copy gates later ones), while one batch-mode [[Dedup.exactDedup]]
    * over all arrivals keeps the minimum id — identical whenever ids
    * are assigned monotonically with arrival, the normal ingest
    * regime (and [[DocStreams.curateStream]]'s stream/batch contract). */
  def ingest(batch: DataFrame, catalog: TableCatalog, st: State): DataFrame =
    ingestImpl(batch, catalog, st, _ => ())

  /** [[ingest]] with a fault-injection seam: `failpoint` is invoked
    * with a stage name immediately BEFORE each state mutation
    * ("stage", "marker", "components", "prefix", "bloom", "corpus",
    * "unmark"); a test that throws from it simulates a crash at that
    * boundary (IngestLoopSpec kills ticks at several — including a
    * simulated mid-partition-write data loss — and proves recovery
    * keeps loop ≡ batch). */
  private[graft] def ingestImpl(batch: DataFrame, catalog: TableCatalog,
                                st: State,
                                failpoint: String => Unit): DataFrame = {
    val spark = batch.sparkSession
    // AQE off for the tick's own jobs: every exchange here is either
    // delta-scale, broadcast, or explicitly repartitioned (the probe),
    // so runtime re-planning has nothing to improve — while its
    // per-query-stage job materialization near-tripled the tick's job
    // count (measured 66 jobs vs 57, ~2 s of pure scheduling at
    // sf0.1). Corpus-side work is scan-shaped and unaffected. Restored
    // in finally, so the caller's session behavior is untouched.
    val aqeWas = spark.conf.get("spark.sql.adaptive.enabled", "true")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try ingestTick(batch, catalog, st, failpoint)
    finally spark.conf.set("spark.sql.adaptive.enabled", aqeWas)
  }

  private def ingestTick(batch: DataFrame, catalog: TableCatalog,
                         st: State,
                         failpoint: String => Unit): DataFrame = {
    val spark = batch.sparkSession
    recoverPendingTick(spark, catalog, st, failpoint)
    val corpus = catalog.read(spark, st.corpus)
    // the bloom row is read ONCE per tick: the gate probes its bytes,
    // and the staged merge below ORs into the same copy
    val bloomRow = catalog.read(spark, st.bloom).head()
    // batch-internal exact dups collapse first (the corpus gate can
    // only see the corpus), then the bloom gate drops re-ingests —
    // the corpus side probes its STORED fingerprints (column-pruned
    // scan), only the batch hashes text
    val survivors = BloomGate.newRows(
        withFp(Dedup.exactDedup(batch, st.idCol, st.textCol), st),
        corpus, "__fp", bloomRow.getAs[Array[Byte]]("bloom"))
      .transform(Pins.pin(_)) // gate once; every stage below consumes
    // a tick of pure re-ingests mutates NOTHING — no staging, no
    // marker, no partition rewrites
    if (survivors.isEmpty) return survivors.drop("__fp")
    val newSets = setsOf(survivors, st)
    // pair discovery, the drift measure, and the batch's index rows
    // share ONE materialized probe (one batch tokenize + vocab probe +
    // ranking window for all three concerns); the threshold comes from
    // State — build() wrote the index from the same declaration
    val (deltaPairs, drift, prefixRows) =
      Dedup.incrementalPairsFromCatalogWithProbe(
        setsOf(corpus, st), newSets, st.idCol, catalog, st.prefixIndex,
        knownThreshold = Some(st.threshold))
    // delta-scale component fold, which pins the verified pairs itself:
    // (old-root → merged-root) remap plus labeled new nodes; None when
    // every delta edge dissolved into the standing clusters — but new
    // SINGLETON docs still need no row (singletons are absent from the
    // assignment, as in the batch form)
    val fold = Dedup.incrementalComponentsDelta(
      readComponents(spark, catalog, st), deltaPairs)
    // the FULL replacement content of every touched component
    // partition, computed NOW from the still-clean standing table —
    // recovery must never derive the touched set from a standing table
    // a mid-write crash may have damaged
    val content = fold.map { case (remapDf, newNodes) =>
      val remap = broadcast(remapDf)
      val standing = catalog.read(spark, st.components)
      // partitions holding a row whose component is an OLD root
      // (scan with the broadcast remap map-side — the BloomGate
      // discipline), plus the partitions every new node hashes into
      val touchedParts = standing
        .join(remap.select(col("component")), Seq("component"), "left_semi")
        .select(col("__part").cast("long").as("__part"))
        .unionByName(newNodes.select(partOf(st, col("id")).as("__part")))
        .distinct()
      // new nodes cannot collide with standing rows here: the fold
      // anti-joined them against the standing assignment, and the
      // standing table is untouched until the post-marker apply
      standing
        .join(broadcast(touchedParts), Seq("__part"), "left_semi")
        .join(remap, Seq("component"), "left")
        .select(col("id"),
          coalesce(col("newc"), col("component")).as("component"),
          col("__part").cast("long").as("__part"))
        .unionByName(newNodes
          .select(col("id"), col("component"),
            partOf(st, col("id")).as("__part")))
    }
    val rebuildRequested = drift > st.maxUnseenPrefixShare
    // ---- staged two-phase commit: artifacts first, marker last ----
    failpoint("stage")
    // survivors keep __fp — it is a stored column of the corpus table
    catalog.overwrite(survivors, stagedSurvivors(st))
    catalog.overwrite(prefixRows, stagedPrefixRows(st))
    // no staged content table on a no-delta tick — the marker's
    // has_delta field tells apply/recovery to skip the component step
    content.foreach(c => catalog.overwrite(c, stagedComponents(st)))
    // the bloom is staged PRE-MERGED (standing bits ∪ batch bits):
    // installing is then a pure overwrite from the staged copy, and no
    // crash point ever holds the only copy of the standing bloom
    catalog.overwrite(
      BloomGate.mergedBloomFrame(survivors, "__fp", bloomRow),
      stagedBloom(st))
    failpoint("marker")
    locally {
      import spark.implicits._
      catalog.overwrite(
        Seq((st.corpus, rebuildRequested, content.isDefined))
          .toDF("tick", "rebuild_requested", "has_delta"),
        tickMarker(st))
    }
    applyStagedTick(spark, catalog, st, rebuildRequested,
      hasDelta = content.isDefined, guarded = false, failpoint)
    failpoint("unmark")
    catalog.drop(spark, tickMarker(st))
    survivors.drop("__fp")
  }

  /** Land the staged tick's state writes, every one driven from the
    * staged artifacts alone. `guarded = true` (the recovery path)
    * makes the append-shaped writes idempotent against a partial
    * prior landing; the component partition replace and the bloom
    * install are idempotent in both modes by construction (same
    * staged content, rewritten wholesale). */
  private def applyStagedTick(spark: SparkSession, catalog: TableCatalog,
                              st: State, rebuildRequested: Boolean,
                              hasDelta: Boolean, guarded: Boolean,
                              failpoint: String => Unit): Unit = {
    failpoint("components")
    if (hasDelta)
      catalog.replacePartitions(catalog.read(spark, stagedComponents(st)),
        st.components, partitionBy = Seq("__part"))
    failpoint("prefix")
    val stagedRows = catalog.read(spark, stagedPrefixRows(st))
    val prefixRows =
      if (!guarded) stagedRows
      else {
        // ids whose prefix rows already landed: each id's rows were
        // written by ONE task (the ranking window partitioned by id),
        // so a file-level partial commit is id-atomic and the
        // anti-join is an exact guard
        val batchIds = stagedRows.select(col("id").as("__bid")).distinct()
        val present = catalog.read(spark, st.prefixIndex)
          .join(broadcast(batchIds), col("id") === col("__bid"), "left_semi")
          .select(col("id")).distinct()
        stagedRows.join(broadcast(present), Seq("id"), "left_anti")
      }
    // the staged rows are exactly appendToPrefixIndex's output for
    // this batch (same probe), already ranked under the frozen vocab
    catalog.append(prefixRows, st.prefixIndex)
    failpoint("bloom")
    catalog.overwrite(catalog.read(spark, stagedBloom(st)), st.bloom)
    failpoint("corpus")
    val out = catalog.read(spark, stagedSurvivors(st))
    val corpusRows =
      if (!guarded) out
      else {
        // semi-probe FIRST (broadcast of the batch ids), distinct on
        // the tiny survivor subset — never a corpus-wide distinct
        val present = catalog.read(spark, st.corpus)
          .join(broadcast(out.select(col(st.idCol))),
            Seq(st.idCol), "left_semi")
          .select(col(st.idCol)).distinct()
        out.join(broadcast(present), Seq(st.idCol), "left_anti")
      }
    catalog.append(corpusRows, st.corpus)
    // advisory, idempotent, and re-landed by recovery from the marker
    // field — so a crash cannot eat a tripped drift signal
    if (rebuildRequested) {
      import spark.implicits._
      catalog.overwrite(Seq(st.prefixIndex).toDF("index"),
        rebuildRequest(st))
    }
  }

  /** Roll forward anything a crash left half-done: first a pending
    * index swap (see [[rebuildPrefixIndex]] — it must land before any
    * append touches the old index), then a pending tick. The tick's
    * staged artifacts are complete by the marker's contract, so its
    * writes re-apply with idempotence guards; an unreadable or rowless
    * marker means the crash hit the marker write itself — state writes
    * had not begun, staging alone is inert, so the marker is dropped
    * and the tick is simply not-committed. A crash DURING recovery
    * leaves the marker in place — recovery reruns. Called
    * automatically at the head of every tick; safe (and cheap — two
    * existence probes) when there is nothing to recover. */
  def recoverPendingTick(spark: SparkSession, catalog: TableCatalog,
                         st: State,
                         failpoint: String => Unit = _ => ()): Unit = {
    recoverPrefixSwap(spark, catalog, st)
    if (catalog.exists(spark, tickMarker(st))) {
      val marker = scala.util.Try {
        val rows = catalog.read(spark, tickMarker(st)).collect()
        if (rows.isEmpty) None
        else Some((rows.head.getAs[Boolean]("rebuild_requested"),
          rows.head.getAs[Boolean]("has_delta")))
      }.toOption.flatten
      marker match {
        case Some((rebuildRequested, hasDelta)) =>
          applyStagedTick(spark, catalog, st, rebuildRequested, hasDelta,
            guarded = true, failpoint)
          catalog.drop(spark, tickMarker(st))
        case None =>
          catalog.drop(spark, tickMarker(st))
      }
    }
  }

  /** True when some tick's drift crossed `maxUnseenPrefixShare` and
    * the index has earned a rebuild. */
  def rebuildRequested(spark: SparkSession, catalog: TableCatalog,
                       st: State): Boolean =
    catalog.exists(spark, rebuildRequest(st))

  /** Run a fenced index rebuild iff one is requested; returns whether
    * it ran. The between-ticks maintenance call a `foreachBatch`
    * caller makes (cheap — one existence probe — when nothing is
    * pending). */
  def maintainPrefixIndex(spark: SparkSession, catalog: TableCatalog,
                          st: State): Boolean = {
    // a swap that crashed between its request-drop and marker-drop
    // must finish here too, not only at the next tick's head
    recoverPrefixSwap(spark, catalog, st)
    val due = rebuildRequested(spark, catalog, st)
    if (due) rebuildPrefixIndex(spark, catalog, st)
    due
  }

  /** Fenced prefix-index rebuild under a fresh vocabulary snapshot —
    * the corpus-scale maintenance op ticks only REQUEST. Protocol:
    * stage the full new index (table + vocab + meta) under scratch
    * names, commit a swap marker, install each over the live name,
    * drop request + marker + scratch. Any crash rolls forward via
    * [[recoverPrefixSwap]] at the next tick or maintenance call:
    * pre-marker the scratch tables are inert (a re-run re-stages);
    * post-marker the staged index is complete and the install is a
    * pure overwrite-from-staged, idempotent under any number of
    * re-runs. Sound at every point because ticks append on the frozen
    * order (pairs never depend on WHICH consistent order) and no tick
    * can run between marker and install — recovery lands the swap
    * before the tick's first index read. */
  def rebuildPrefixIndex(spark: SparkSession, catalog: TableCatalog,
                         st: State): Unit =
    rebuildPrefixIndexImpl(spark, catalog, st, _ => ())

  private[graft] def rebuildPrefixIndexImpl(spark: SparkSession,
                                            catalog: TableCatalog, st: State,
                                            failpoint: String => Unit): Unit = {
    // a pending tick's prefix rows must land before the snapshot is
    // taken (else the swap would erase them), and a crashed previous
    // swap must finish first
    recoverPendingTick(spark, catalog, st)
    failpoint("rebuild_stage")
    Dedup.buildPrefixIndex(setsOf(catalog.read(spark, st.corpus), st),
      st.idCol, st.threshold, catalog, rebuildStage(st))
    failpoint("rebuild_marker")
    locally {
      import spark.implicits._
      catalog.overwrite(Seq(st.prefixIndex).toDF("index"), swapMarker(st))
    }
    installRebuiltIndex(spark, catalog, st, failpoint)
    catalog.drop(spark, rebuildRequest(st))
    failpoint("rebuild_unmark")
    catalog.drop(spark, swapMarker(st))
    indexSuffixes.foreach(sfx =>
      catalog.drop(spark, rebuildStage(st) + sfx))
  }

  private def installRebuiltIndex(spark: SparkSession, catalog: TableCatalog,
                                  st: State,
                                  failpoint: String => Unit): Unit = {
    failpoint("rebuild_swap")
    indexSuffixes.foreach(sfx =>
      catalog.overwrite(catalog.read(spark, rebuildStage(st) + sfx),
        st.prefixIndex + sfx))
  }

  /** Complete a rebuild whose swap marker survived a crash. Scratch
    * tables are dropped only AFTER the marker (a crash between leaves
    * inert garbage the next rebuild overwrites, never a marker whose
    * staged artifacts are gone). */
  def recoverPrefixSwap(spark: SparkSession, catalog: TableCatalog,
                        st: State): Unit =
    if (catalog.exists(spark, swapMarker(st))) {
      installRebuiltIndex(spark, catalog, st, _ => ())
      catalog.drop(spark, rebuildRequest(st))
      catalog.drop(spark, swapMarker(st))
      indexSuffixes.foreach(sfx =>
        catalog.drop(spark, rebuildStage(st) + sfx))
    }

  /** The loop as a Structured Streaming SINK: one fenced tick per
    * micro-batch via `foreachBatch`, index maintenance between ticks.
    * This is the `foreachBatch` caller the tick protocol was designed
    * for, packaged: end-to-end convergence does NOT depend on
    * exactly-once delivery — a replayed micro-batch (failure before
    * the checkpoint commit) re-enters as a tick of pure re-ingests and
    * gates out against the recovered corpus, so at-least-once is
    * enough (IngestLoopSpec's kill matrix is exactly this replay).
    * `maintain = true` runs [[maintainPrefixIndex]] after each tick —
    * one existence probe when no rebuild is due; a caller with a real
    * maintenance window passes false and schedules it themselves.
    * The returned query is started; callers own its lifecycle. */
  def ingestSink(docs: DataFrame, catalog: TableCatalog, st: State,
                 checkpointDir: String, maintain: Boolean = true)
      : org.apache.spark.sql.streaming.StreamingQuery = {
    require(docs.isStreaming, "ingestSink needs a streaming DataFrame")
    docs.writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, _: Long) =>
        val spark = batch.sparkSession
        ingest(batch, catalog, st)
        if (maintain) maintainPrefixIndex(spark, catalog, st)
        ()
      }
      .start()
  }

  /** Small-file maintenance for the standing tables the loop APPENDS
    * to: every tick adds a file batch to the corpus and the prefix
    * index, and at 100 TB a year of daily ticks turns their scans into
    * footer-open storms (the corpus is scanned by every gate and every
    * pair verification). Rewrites both through
    * [[graft.catalog.ParquetCatalog.compact]]'s fenced rename
    * protocol into ≈`targetBytes` files. The components table is NOT
    * compacted per call: its touched partitions are rewritten
    * wholesale each tick, so only long-untouched partitions fragment —
    * pass `componentParts = true` to sweep those too (one fenced
    * compact per id-hash partition). Like compact itself, this is a
    * between-ticks maintenance op for the loop's single sequential
    * caller: a pending tick is recovered first, so no staged state is
    * in flight while directories are being swapped. */
  def compactState(spark: SparkSession, catalog: graft.catalog.ParquetCatalog,
                   st: State, targetBytes: Long = 128L * 1024 * 1024,
                   componentParts: Boolean = false): Unit = {
    recoverPendingTick(spark, catalog, st)
    catalog.compact(spark, st.corpus, targetBytes = targetBytes)
    catalog.compact(spark, st.prefixIndex, targetBytes = targetBytes)
    if (componentParts) {
      val root = new org.apache.hadoop.fs.Path(
        s"${catalog.root}/${st.components}")
      val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
      fs.listStatus(root)
        .filter(s => s.isDirectory && s.getPath.getName.startsWith("__part="))
        .foreach(s => catalog.compact(spark, st.components,
          partition = Some(s.getPath.getName), targetBytes = targetBytes))
    }
  }
}
