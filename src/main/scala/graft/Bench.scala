package graft
import org.apache.spark.sql.{DataFrame, SparkSession}
import scala.collection.mutable
import graft.queries.Builds
object Bench {
  /** Parse a [[BenchChild]] stdout capture into its measured rows:
    * `[bench-child] <row> <seconds>` lines only, anything else
    * (Spark chatter that reaches stdout, partial writes from a dying
    * child) ignored; a malformed number drops its line rather than
    * failing the whole sweep. */
  private[graft] def parseChildLines(out: Seq[String]): Map[String, Double] =
    out.filter(_.startsWith("[bench-child] ")).flatMap { l =>
      l.stripPrefix("[bench-child] ").split(" ") match {
        case Array(k, v) => scala.util.Try(k -> v.toDouble).toOption
        case _ => None
      }
    }.toMap

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    // ONE artifact store shared by this JVM and every BenchChild it
    // spawns (set BEFORE anything touches Artifacts' lazy root):
    // a child-built pair graph must serve the parent's dependent
    // queries, and a child query must find the parent-built indexes.
    val artifactRoot = sys.props.getOrElseUpdate("graft.artifact.root",
      java.nio.file.Files.createTempDirectory("graft_artifacts_shared_")
        .toString)
    val spark = Sessions.local(cpus)

    // ------------------------------------------------ canary sweep
    // state (see BenchCanary's scaladoc for why and the thresholds).
    // Samples go through a running-min baseline: a sweep STARTED
    // under contention self-corrects once a clean sample arrives (the
    // final artifact re-ratios every window against the global min).
    val outPath = sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT",
      "BENCH_RESULTS.json")
    val prevCommitted = BenchCanary.parseCommitted(java.nio.file.Paths.get(
      sys.env.getOrElse("SPARK_GRAFT_BENCH_PREV", outPath)))
    // Dev/diagnostic subset: SPARK_GRAFT_BENCH_ONLY="q207,nyc_10x"
    // runs only the named rows (substring match on the reported row
    // names) under the full canary discipline — the loaded-sweep
    // experiments that validate the re-run wiring can't afford the
    // 40-minute full sweep per trial. NEVER set for a committed
    // artifact: a subset file would lie about the sweep total.
    val only: Option[Set[String]] =
      sys.env.get("SPARK_GRAFT_BENCH_ONLY")
        .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
    def wanted(rowNames: String*): Boolean =
      only.forall(sel => rowNames.exists(n => sel.exists(n.contains)))
    BenchCanary.warm()
    val samples = mutable.ArrayBuffer[BenchCanary.Probe]()
    def baseAlu: Double = samples.map(_.alu).min
    def baseBw: Double = samples.map(_.bw).min
    // A window's contention ratio: the hotter COMPONENT of the hotter
    // bracket. The ALU spin sees CPU oversubscription; the stream
    // probe sees the memory-bandwidth/page-cache contention that
    // inflated 11 r13 rows while every ALU window read <=1.29.
    def probeRatio(pre: BenchCanary.Probe,
                   post: BenchCanary.Probe): (Double, Double) =
      (BenchCanary.windowRatio(pre.alu, post.alu, baseAlu),
        BenchCanary.windowRatio(pre.bw, post.bw, baseBw))
    // Adaptive min-of-2: a single fixed-work probe jitters ~±20% even
    // on an idle box (first clean-sweep shakedown: median ratio 1.16
    // vs the running min, spurious 1.4–2.5× windows → 34 pointless
    // re-runs), so a sample with a hot component gets ONE
    // confirmation probe and keeps the per-component min — one-off
    // scheduler/GC spikes die, sustained co-tenant load reads hot on
    // both probes and stands.
    def sample(): BenchCanary.Probe = {
      var s = BenchCanary.measureBoth()
      if (samples.nonEmpty && (s.alu > BenchCanary.hotThreshold * baseAlu ||
          s.bw > BenchCanary.hotThreshold * baseBw)) {
        val s2 = BenchCanary.measureBoth()
        s = BenchCanary.Probe(math.min(s.alu, s2.alu),
          math.min(s.bw, s2.bw))
      }
      samples += s
      s
    }
    sample(); sample(); sample()
    var preSample = samples.last

    // A pending row group: names it reports, how to re-run it (None =
    // not rerunnable: artifact builds memoize on second touch, so a
    // re-run would measure a no-op and HEAL a phantom instead of
    // re-measuring it), the values the last execution kept, and
    // whether this window already re-ran it (one re-run per row per
    // window, whichever rule asks first).
    final case class Pending(exec: Option[() => Map[String, Double]],
                             var values: Map[String, Double],
                             var reran: Boolean = false)
    val window = mutable.ArrayBuffer[Pending]()
    val all = mutable.LinkedHashMap[String, Double]()
    // per-row (combined, alu, bw) ratio of the bracket that produced
    // the KEPT value — a row whose re-run failed or lost the min
    // keeps its first bracket's ratio, so a contended reading can
    // never wear a clean bracket's stamp
    val rowRatio = mutable.LinkedHashMap[String, (Double, Double, Double)]()
    val rerunRows = mutable.LinkedHashSet[String]()

    def runRow(rerunnable: Boolean)(f: => Map[String, Double]): Unit =
      window += Pending(if (rerunnable) Some(() => f) else None, f)

    // Close the current measurement window: bracket it with the next
    // canary sample. Two independent re-run triggers, each firing the
    // same single re-run (per-row minima kept, -1 failure markers
    // never minimized away):
    //  1. window rule — EITHER probe component >1.3x its running-min
    //     baseline re-runs every rerunnable row in the window;
    //  2. value rule — a rerunnable row past 2x its previously
    //     committed band re-runs even under cool windows (the r13
    //     blind spot: 11 rows inflated by contention no probe
    //     bracketed; probes sample BETWEEN rows, and some contention
    //     shapes — a co-tenant's page-cache eviction storm — fire
    //     inside a row and are gone by its close).
    // Rows still past 2x after their re-run keep the suspect marker
    // (computed at artifact time, below). Every row is stamped with
    // the ratio of the bracket that produced its KEPT value.
    def closeWindow(): Unit = {
      if (window.isEmpty) { preSample = sample(); return }
      val post = sample()
      val (alu1, bw1) = probeRatio(preSample, post)
      val stamp = mutable.Map[String, (Double, Double, Double)]()
      window.foreach(_.values.keys.foreach(k =>
        stamp(k) = (math.max(alu1, bw1), alu1, bw1)))
      def rerunPass(select: Pending => Boolean, why: String): Unit = {
        val targets = window.filter(p =>
          p.exec.nonEmpty && !p.reran && select(p))
        if (targets.isEmpty) return
        System.err.println(String.format(java.util.Locale.ROOT,
          "[bench] %s — re-running %d rows once", why,
          Integer.valueOf(targets.size)))
        val pre2 = samples.last
        val keptFromRerun = mutable.Set[String]()
        targets.foreach { p =>
          p.reran = true
          rerunRows ++= p.values.keys
          val again = try p.exec.get() catch { case e: Throwable =>
            System.err.println(s"[bench] re-run failed: ${e.getMessage}")
            Map.empty[String, Double]
          }
          p.values = p.values.map { case (k, v) =>
            val v2 = again.getOrElse(k, Double.MaxValue)
            if (v < 0 || v2 < 0) k -> math.max(v, v2)
            else if (v2 < v) { keptFromRerun += k; k -> v2 }
            else k -> v
          }
        }
        val post2 = sample()
        val (alu2, bw2) = probeRatio(pre2, post2)
        keptFromRerun.foreach(k =>
          stamp(k) = (math.max(alu2, bw2), alu2, bw2))
      }
      if (BenchCanary.needsRerun(math.max(alu1, bw1)))
        rerunPass(_ => true, String.format(java.util.Locale.ROOT,
          "canary hot (alu %.2fx, bw %.2fx)",
          java.lang.Double.valueOf(alu1), java.lang.Double.valueOf(bw1)))
      rerunPass(p => p.values.exists { case (k, v) =>
          BenchCanary.isSuspect(v, prevCommitted.get(k)) },
        "row(s) past 2x committed band under a cool window")
      window.foreach { p =>
        p.values.foreach { case (k, v) =>
          all(k) = v
          rowRatio(k) = stamp(k)
        }
      }
      window.clear()
      preSample = samples.last
    }

    // Full materialization of every output column (count() lets Catalyst
    // skip most of the plan); noop sink measures compute, not disk.
    def run(name: String, fn: (SparkSession, String) => DataFrame, dir: String): Unit =
      fn(spark, dir).write.format("noop").mode("overwrite").save()
    // One 128 GiB JVM runs ~100 queries back to back: drop every
    // block between them (see Sessions.dropBlocks)
    def dropAllState(gc: Boolean): Unit =
      Sessions.dropBlocks(spark, gcPauseMs = if (gc) 1000 else 0)
    // Spawn one chronic row in a FRESH JVM ([[BenchChild]]) and parse
    // its `[bench-child] <row> <sec>` lines. Fences and forced GC
    // (r9-r11) provably cannot protect composite/late rows inside one
    // 40-minute 200-row JVM — the r11 sweep read nyc_10x at 163 s
    // against 47 s isolated with identical code; a fresh heap is the
    // only guaranteed-clean state. Child gets the parent's classpath
    // (run/fork:=true hands this JVM a real -cp), the same -Xmx, the
    // JDK-17 --add-opens set Spark needs, and the shared artifact
    // root. Failure (nonzero exit / no parseable row) reports -1 under
    // `fallback` — a visible marker, never a vanished row.
    def runChild(kind: String, row: String,
                 fallback: Seq[String]): Map[String, Double] = {
      try {
        val (code, out) = ChildJvm.spawn("graft.BenchChild",
          Seq(kind, row, sfDir),
          Map("graft.artifact.root" -> artifactRoot))
        val parsed = parseChildLines(out)
        if (code != 0 || parsed.isEmpty) {
          System.err.println(
            s"[bench] child $kind/$row exit=$code rows=${parsed.size}")
          fallback.map(_ -> -1.0).toMap ++ parsed
        } else parsed
      } catch { case e: Throwable =>
        System.err.println(s"[bench] child $kind/$row FAILED: ${e.getMessage}")
        fallback.map(_ -> -1.0).toMap
      }
    }
    // Chronic BUILD rows first, each in a fresh JVM — before the
    // parent warmup so each child's own sf0.001 warm-build actually
    // executes (the shared store would otherwise memoize it away).
    // Their sfDir artifacts land in the shared store, where the
    // parent's dependent queries (q43/q50/q61/q91, components,
    // triangles) read them exactly as before. One canary-bracketed
    // window per child spawn. RERUNNABLE since r15: the child's build
    // path passes force=true, which bypasses the exists-memo and
    // rebuilds the artifact in place (overwrite semantics, identical
    // content) — so a canary/value-triggered re-run re-measures the
    // real build instead of being impossible. Build rows were the one
    // row class contention could inflate with no honest re-run (r12
    // q147_build 97.7 s vs 10.3 isolated; r14 76.4 vs 12.4 committed).
    Seq("q47_build", "q89_build", "q147_build")
      .filter(b => wanted(b)).foreach { b =>
        runRow(rerunnable = true)(runChild("build", b, Seq(b)))
        closeWindow()
      }
    // untimed warmup on the tiny sf to JIT scan/codegen paths (subset
    // runs warm only their own rows — a dev trial can't afford the
    // full-inventory warmup)
    SparkEntry.queries.filter { case (n, _) => wanted(n) }
      .foreach { case (n, f) =>
        try run(n, f, "/root/testdata/sf0.001")
        catch { case _: Throwable => () }
      }
    dropAllState(gc = true)
    System.err.println("[bench] warmup done")
    closeWindow() // refresh the bracket: warmup took minutes
    // TIMED one-time artifact builds at the bench SF. The artifact-
    // backed queries (pair graph, standing components, prefix index,
    // bloom, IVF lists, jsonl export) memoize per-(JVM, dir) catalog
    // artifacts on first touch; building them here (a) makes the build
    // cost an explicit bench row instead of silently inflating the
    // first timed run (r6: q89 reported 9.9 s against a 1.2 s steady
    // state), and (b) keeps the timed rows below pure query-side cost.
    // Which artifact each row builds, and which queries read it: the
    // build-row map, graft.queries.Builds. The graph-family builds
    // (q47/q89/q147) ran as child rows above — the heaviest
    // allocators and the rows the in-JVM fence kept failing to
    // protect; the rest stay in-JVM where the r11 fence demonstrably
    // works (q90 58.3->5.0 s, q77 12.6->1.2 s).
    // force = true: the first run builds exactly as before (nothing
    // exists yet in the run-scoped store); a canary/value-triggered
    // RE-RUN rebuilds honestly instead of timing the memo's no-op.
    val builds = Seq("q90_build", "q84_build", "q77_build", "q78_build",
      "q96_build", "q98_build", "q107_build", "q167_build", "q171_build")
    // Every build row gets the SAME guaranteed-clean-heap fence the
    // heavy queries get below: twelve one-shot artifact builds back to
    // back are allocation-heavy and UNREPEATED (no min-of-two can mask
    // a stall), so one build's dead buffers land the next build's full
    // GC mid-measurement (r10 driver sweep: q90_build 1.89 -> 58.3 s =
    // 31x while the 186 query rows sat at median 1.09x — the r9 q65
    // harness-pollution mode one phase earlier). ~1 s x |builds| of
    // untimed pauses buys build rows that measure the build. Each
    // build closes its own canary window (memoization makes a re-run
    // meaningless, so the ratio marker is all the artifact can carry).
    builds.filter(wanted(_)).foreach { name =>
      // RERUNNABLE since r15 (force=true rebuilds honestly — see the
      // child builds above); the clean-heap fence lives INSIDE the
      // closure so a re-run gets the same pre-measurement GC as the
      // first run (the heavy-query discipline below).
      runRow(rerunnable = true) {
        dropAllState(gc = true)
        try {
          val t0 = System.nanoTime()
          Builds.rows(name)(spark, sfDir, true)
          Map(name -> (System.nanoTime() - t0) / 1e9)
        } catch { case e: Throwable =>
          System.err.println(s"[bench] $name FAILED: ${e.getMessage}")
          Map(name -> -1.0)
        }
      }
      closeWindow()
    }
    dropAllState(gc = true)
    // Chronic QUERY rows, isolated in fresh JVMs (r11 judge: q43 8.1 s
    // sweep vs 3.2 isolated, q48 8.9 vs 4.6, q90 8.2 vs 4.2, q24 the
    // r9 pollution case) — AFTER the in-JVM builds so q90's child
    // finds the parent-built prefix index in the shared store. One
    // canary window per spawn; steady-state child queries re-spawn
    // cleanly, so they ARE rerunnable.
    val childQueryNames = Seq("q24_ngram_jaccard_pairs",
      "q43_curated_corpus", "q48_ann_ivf_kmeans", "q90_indexed_pairs",
      "q207_containment")
    childQueryNames.filter(q => wanted(q)).foreach { q =>
      runRow(rerunnable = true)(runChild("query", q, Seq(q)))
      closeWindow()
    }
    // min of two timed runs per query: the second run sees warm JIT and
    // page cache, so the min reflects steady-state cost, not whichever
    // run a GC pause landed on (observed 1.7x run-to-run noise).
    // A failed query reports -1, never its time-to-crash — a baseline
    // diff must see the break, not a phantom speedup. After each query,
    // its leftover persisted blocks are dropped (cheap, no GC) so query
    // ordering cannot leak storage pressure into later measurements.
    // Allocation-heavy rows get a GUARANTEED clean heap BEFORE their
    // first timed run: the every-8th cadence below still leaves up to 7
    // queries of dead buffers in old-gen, and when a heavy query's slot
    // lands late in that window BOTH its runs execute in the degraded
    // regime — min-of-two can't save it (r9: q65 reported 19.4 s in the
    // sweep vs 2.1 s isolated; code identical). ~1 s × |heavy| extra
    // untimed pauses.
    val heavy = Set("q65_knn_graph", "q92_knn_graph_lsh",
      "q188_knn_graph_lsh_scaled",
      "q89_incremental_components",
      "q147_triangles", "q158_component_churn", "q163_weighted_median",
      "q64_incremental_pairs")
    SparkEntry.queries.toSeq.sortBy(_._1)
      .filterNot { case (n, _) => childQueryNames.contains(n) }
      .filter { case (n, _) => wanted(n) }
      .zipWithIndex
      .foreach { case ((name, fn), idx) =>
        def once(): Double = {
          val t0 = System.nanoTime()
          run(name, fn, sfDir)
          (System.nanoTime() - t0) / 1e9
        }
        runRow(rerunnable = true) {
          // the heavy-row clean-heap fence lives INSIDE the
          // rerunnable closure: a canary-triggered re-run must get
          // the same pre-measurement GC as the first run, or it
          // re-measures the degraded old-gen regime it exists to
          // escape
          if (heavy(name)) dropAllState(gc = true)
          val v = try {
            val t1 = once(); val t2 = once()
            val best = math.min(t1, t2)
            // a >1.5x disagreement means one run ate a GC/page-cache
            // stall; a third sample keeps the reported min honest
            // without paying three runs for every stable query
            if (math.max(t1, t2) > 1.5 * best) math.min(best, once())
            else best
          } catch { case e: Throwable =>
            System.err.println(s"[bench] $name FAILED: ${e.getMessage}")
            -1.0
          }
          Map(name -> v)
        }
        // forced GC every 8th query, not only at phase boundaries:
        // otherwise whole sweeps of unreferenced blocks/buffers
        // accumulate in old-gen until some unlucky allocation-heavy
        // query eats the full GC mid-measurement — BOTH its runs land
        // in the degraded regime, so min-of-two cannot save it
        // (observed: code-untouched q89 4.1 s → 13.2 s between two
        // clean full sweeps). ~1 s × (queries/8) deterministic pauses
        // between queries buys run-to-run stability. Canary windows
        // close every 15 rows — wide enough to cost <1% of the sweep,
        // narrow enough that one contended window re-runs ≤15 cheap
        // query rows.
        dropAllState(gc = idx % 8 == 7)
        if (idx % 15 == 14) closeWindow()
      }
    closeWindow()
    // Full-year NYC pipeline over the REAL reference dataset (787,060
    // raw rows, 12 monthly files): 12× bronze→silver→gold partition
    // replace + one mart refresh — the orchestration loop's wall time,
    // one run (it writes ~40 parquet tables; min-of-N would mostly
    // re-measure the page cache). Skipped silently when the reference
    // data is absent. Rerunnable: each run writes to (and removes) its
    // own temp catalog.
    val greenDir = "/root/reference/data/green_data"
    if (new java.io.File(s"$greenDir/2023-01.parquet").canRead &&
        wanted("nyc_full_year_pipeline")) {
      runRow(rerunnable = true) {
        // delete the ~40-table medallion output afterwards — repeated
        // bench runs must not strand hundreds of MB per run in /tmp
        val root = java.nio.file.Files.createTempDirectory("graft_bench_nyc_")
        try {
          val cfg = graft.nyc.NycPipeline.Config(greenDir,
            new graft.catalog.ParquetCatalog(root.toString),
            zonePath = Some("/root/reference/data/taxi_zone.csv"))
          val t0 = System.nanoTime()
          graft.nyc.NycPipeline.runYear(spark, cfg)
          Map("nyc_full_year_pipeline" -> (System.nanoTime() - t0) / 1e9)
        } catch { case e: Throwable =>
          System.err.println(s"[bench] nyc_full_year_pipeline FAILED: ${e.getMessage}")
          Map("nyc_full_year_pipeline" -> -1.0)
        } finally Sessions.deleteTree(root)
      }
      closeWindow()
    }
    dropAllState(gc = true)
    // The same pipeline at 10x the reference's volume (7.9M rows — the
    // scale its README concedes crashes the reference's platinum
    // layer) and the production ingest loop (seed 80%, tick a held-out
    // 10%, quiescent re-ingest) — both composite multi-write rows, the
    // two worst in-JVM flappers, each in a fresh child JVM. BOTH rows
    // of a failed pair report -1: a failure must show as a visible
    // marker, never as a vanished row in the artifact's line diff.
    // Both children are self-contained (own temp dirs) → rerunnable.
    if (graft.nyc.NycScaleBench.available &&
        wanted("nyc_10x_gen", "nyc_10x_pipeline")) {
      runRow(rerunnable = true)(runChild("nyc10x", "nyc_10x",
        Seq("nyc_10x_gen", "nyc_10x_pipeline")))
      closeWindow()
    }
    if (wanted("ingest_loop_tick", "ingest_loop_quiescent")) {
      runRow(rerunnable = true)(runChild("ingest", "ingest_loop",
        Seq("ingest_loop_tick", "ingest_loop_quiescent")))
      closeWindow()
    }

    // ------------------------------------------------ artifacts.
    // rowRatio stored (combined, alu, bw) against the running-min
    // baselines at close time — a LOWER bound when a baseline later
    // sank; recorded as-is, the value-based suspect rule catches what
    // a sunk baseline hides. The suspect list is what's STILL past 2x
    // its committed band after the value-triggered re-run above.
    val globalBaseline = baseAlu
    val suspects = all.collect { case (k, v)
      if BenchCanary.isSuspect(v, prevCommitted.get(k)) => k }.toSeq.sorted
    val qs = all.map { case (k, v) => s"\"" + k + "\":" + v }
      .mkString("{", ",", "}")
    val total = all.values.filter(_ >= 0).sum
    println(s"""{"metric":"total","value":$total,"unit":"sec","queries":$qs,"sf":"$sfDir"}""")
    // The single-line stdout row above gets tail-truncated by capture
    // harnesses once ~180 queries are in the map (r9: only 61 of 177
    // rows reached the round artifact, hiding an 8x anomaly). Persist
    // the complete map as a committed, pretty-printed file too — one
    // row per line, sorted, so diffs between rounds are line-diffs.
    // Locale.ROOT: the f-interpolator honors the JVM default locale,
    // and a comma-decimal locale would emit `2,137` — invalid JSON in
    // a file whose whole point is machine-readability.
    def fmtRows(m: Iterable[(String, Double)], decimals: Int): String =
      m.toSeq.sortBy(_._1)
        .map { case (k, v) => String.format(java.util.Locale.ROOT,
          s"""    "%s": %.${decimals}f""", k, java.lang.Double.valueOf(v)) }
        .mkString(",\n")
    val suspectJson = suspects.map("\"" + _ + "\"").mkString("[", ", ", "]")
    val rerunJson = rerunRows.toSeq.sorted
      .map("\"" + _ + "\"").mkString("[", ", ", "]")
    // raw probe seconds in sweep order, per component — the
    // adjudication trail: a reader can re-derive every window ratio,
    // see exactly when the host regime shifted, and attribute WHICH
    // resource (CPU vs memory bandwidth) was contended
    def samplesJson(pick: BenchCanary.Probe => Double): String = samples
      .map(s => String.format(java.util.Locale.ROOT, "%.3f",
        java.lang.Double.valueOf(pick(s))))
      .mkString("[", ", ", "]")
    java.nio.file.Files.writeString(java.nio.file.Paths.get(outPath),
      s"""{
         |  "metric": "total",
         |  "value": $total,
         |  "unit": "sec",
         |  "sf": "$sfDir",
         |  "canary_baseline_sec": ${String.format(java.util.Locale.ROOT,
               "%.3f", java.lang.Double.valueOf(globalBaseline))},
         |  "canary_baseline_bw_sec": ${String.format(java.util.Locale.ROOT,
               "%.3f", java.lang.Double.valueOf(baseBw))},
         |  "canary_samples": ${samplesJson(_.alu)},
         |  "canary_samples_bw": ${samplesJson(_.bw)},
         |  "suspect": $suspectJson,
         |  "rerun": $rerunJson,
         |  "queries": {
         |${fmtRows(all, 3)}
         |  },
         |  "canary_ratio": {
         |${fmtRows(rowRatio.map { case (k, r) => k -> r._1 }, 2)}
         |  },
         |  "canary_ratio_alu": {
         |${fmtRows(rowRatio.map { case (k, r) => k -> r._2 }, 2)}
         |  },
         |  "canary_ratio_bw": {
         |${fmtRows(rowRatio.map { case (k, r) => k -> r._3 }, 2)}
         |  }
         |}
         |""".stripMargin)
    spark.stop()
    // the shared artifact store is bench-run-scoped — delete it so
    // repeated driver runs don't strand the pair graphs/indexes in /tmp
    Sessions.deleteTree(java.nio.file.Paths.get(artifactRoot))
  }
}
