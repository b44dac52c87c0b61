package perfbench

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.SparkEntry
import graft.catalog.ParquetCatalog
import graft.nyc.NycPipeline
import graft.streaming.IngestLoop

/** The workloads. Each calls only the program's public entry points
  * and measures from outside: op wall times here, layer spans through
  * [[TimedCatalog]] and [[Tracer]]. */
object Workloads {

  def deleteTree(path: String): Unit = {
    val p = java.nio.file.Paths.get(path)
    if (java.nio.file.Files.exists(p))
      java.nio.file.Files.walk(p).sorted(java.util.Comparator.reverseOrder[java.nio.file.Path]())
        .iterator().asScala.foreach(java.nio.file.Files.deleteIfExists(_))
  }

  private def nycConfig(run: Run, catDir: String) = {
    val nyc = run.data.resolve("nyc")
    NycPipeline.Config(nyc.resolve("green").toString,
      new TimedCatalog(new ParquetCatalog(catDir), run.tracer, Layers.nyc),
      yellowDir = Some(nyc.resolve("yellow").toString))
  }

  /** One `runYear` per op, each into a fresh catalog, after one untimed
    * backfill that warms the JVM (a first-quarter warm-up leaves the first
    * timed year about half again slower than a warm one, and two half-year
    * warm-ups side by side take longer than one year). Every op's
    * warehouse is checked after the timed phase. */
  def nycBackfill(run: Run): Unit = {
    val want = run.expected("nyc")
    val rowsIn = want.get("rows_in").asLong
    val layers = Seq("bronze_green", "bronze_yellow", "silver_trips")
      .map(t => t -> want.get(t).asLong)
    run.timeSetup("warmup") {
      val dir = run.dir("nyc-warm")
      NycPipeline.runYear(run.spark, nycConfig(run, dir))
      deleteTree(dir)
    }
    val done = scala.collection.mutable.ArrayBuffer[(Int, String)]()
    while (run.more()) {
      run.cycle()
      val dir = run.dir(s"nyc-${run.ops.size}")
      val o = run.op("nyc.backfill", rowsIn)(NycPipeline.runYear(run.spark, nycConfig(run, dir)))
      if (o.error.isEmpty) done += o.id -> dir
    }
    done.foreach { case (id, dir) =>
      Checks.nycWarehouse(run, id, new ParquetCatalog(dir), dir, want, layers)
      deleteTree(dir)
    }
  }

  val dedupQueries = Seq("q20_minhash_pairs", "q58_semantic_dedup", "q92_knn_graph_lsh",
    "q207_containment", "q208_containment_corpus", "q209_excerpt_scrub")

  private def queryRows(want: com.fasterxml.jackson.databind.JsonNode, q: String): Long =
    if (Set("q58_semantic_dedup", "q92_knn_graph_lsh")(q)) want.get("embeddings").asLong
    else want.get("documents").asLong

  /** One cycle is a pass over the six pair-engine queries in a seeded
    * order, then one `ingest` tick of a held-out tenth of the documents
    * into a standing corpus and a quiescent re-ingest of that tenth. Each
    * timed query computes an order-independent hash of its whole output,
    * which must equal the hash of the output the set-up pass collected
    * and checked. Set-up also builds the standing corpus from six tenths;
    * the four other tenths bound the timed cycles. (A tick costs about
    * the same cold as warm, so no warm-up tick runs.) The set-up pass and
    * the build run side by side: a cold pass is mostly one-off class
    * loading and code generation per job, which leaves cores idle. */
  def corpusDedup(run: Run): Unit = {
    val want = run.expected("corpus")
    val dir = run.data.resolve("corpus").toString
    // scrambled: java.util.Random's first draws barely differ for nearby seeds
    val order = new scala.util.Random(scala.util.hashing.MurmurHash3.mix(0x5eed, run.seed.toInt))
      .shuffle(dedupQueries)
    val checked = scala.collection.mutable.Map[String, String]()
    val ingest = new IngestTicks(run, want)
    run.timeSetup("warmup") {
      // the first noop write loads every registered data source; keep
      // that one-off cost out of the first query
      run.spark.range(1).write.format("noop").mode("overwrite").save()
      lazy val vectors = Checks.vectors(run.spark, dir)
      val pool = java.util.concurrent.Executors.newFixedThreadPool(order.size + 1)
      try {
        val build = pool.submit[Unit](() => ingest.build())
        val outs = order.map(q => q -> pool.submit[DataFrame](() =>
          SparkEntry.queries(q)(run.spark, dir).localCheckpoint(true)))
        run.cycle(timed = false)
        outs.foreach { case (q, pending) =>
          var out: DataFrame = null
          val o = run.op(s"warmup.query.$q", 0L, timed = false) { out = pending.get() }
          if (o.error.isEmpty) run.check(o.id, s"query.$q") {
            checked(q) = Checks.contentHash(out)
            Checks.corpusQuery(q, out, want, vectors)
          }
        }
        build.get()
      } finally pool.shutdown()
    }
    var next = 0
    while (run.more() && next < ingest.slices) {
      run.cycle()
      order.foreach { q =>
        var hash = ""
        val o = run.op(s"query.$q", queryRows(want, q)) {
          hash = Checks.contentHash(SparkEntry.queries(q)(run.spark, dir))
        }
        if (o.error.isEmpty) run.check(o.id, s"query.$q.same_as_checked") {
          checked.get(q).fold[Either[String, Unit]](Left("no checked output to compare with"))(
            Checks.same("output hash", hash, _))
        }
      }
      ingest.tick(next)
      next += 1
    }
    ingest.checkComponents()
    ingest.close()
  }
}

/** The streaming half of a corpus cycle: `IngestLoop` over a standing
  * corpus built from six tenths of the documents, one held-out tenth per
  * tick (the seed permutes the tenths). */
private final class IngestTicks(run: Run, want: com.fasterxml.jackson.databind.JsonNode) {
  private val ing = want.get("ingest")
  private def ids(n: com.fasterxml.jackson.databind.JsonNode) =
    n.elements().asScala.map(_.asLong).toSeq
  private val sliceIds = ing.get("slices").elements().asScala.map(ids).toSeq
  private val after = ids(ing.get("corpus_after_tick"))
  private val docs = run.spark.read.parquet(run.data.resolve("corpus/documents.parquet").toString)
    .select("doc_id", "text")
  private def subset(s: Seq[Long]): DataFrame =
    docs.filter(col("doc_id").isin(s: _*)).localCheckpoint(true)
  private val sliceDfs = sliceIds.map(subset)
  private val st = IngestLoop.State("corpus", "bloom", "pfx", "comps")
  private val dir = run.dir("ingest")
  private val cat = new TimedCatalog(new ParquetCatalog(dir), run.tracer, Layers.ingest(st.corpus))
  private val plain = new ParquetCatalog(dir)
  private var lastOp = -1

  def slices: Int = sliceIds.size

  def build(): Unit = IngestLoop.build(subset(ids(ing.get("base_ids"))), cat, st)

  private def corpusRows() = plain.read(run.spark, st.corpus).count()

  /** Tick `k` and its quiescent re-ingest, each checked: the tick adds the
    * tenth's new texts, the re-ingest adds nothing and leaves no pending
    * marker. */
  def tick(k: Int): Unit = {
    val t = run.op("streaming.tick", sliceIds(k).size.toLong)(IngestLoop.ingest(sliceDfs(k), cat, st))
    run.check(t.id, "ingest.corpus_rows")(Checks.same("corpus rows", corpusRows(), after(k)))
    var quietOut: DataFrame = null
    val q = run.op("streaming.quiescent", 0L) {
      quietOut = IngestLoop.ingest(sliceDfs(k), cat, st)
    }
    run.check(q.id, "ingest.quiescent_adds_nothing") {
      Checks.all(Checks.same("quiescent survivors", quietOut.count(), 0L),
        Checks.same("corpus rows", corpusRows(), after(k)))
    }
    run.check(q.id, "ingest.no_pending_marker") {
      val pending = Checks.tables(run.spark, dir).filter(_.contains("pending"))
      if (pending.isEmpty) Right(()) else Left(s"pending markers left: $pending")
    }
    lastOp = q.id
  }

  /** After the last tick: the components cover exactly corpus ids, and
    * every planted near-duplicate pair in the corpus shares one. */
  def checkComponents(): Unit = run.check(lastOp, "ingest.components_cover_corpus") {
    val near = want.get("near_duplicates").elements().asScala
      .map(p => (p.get(0).asLong, p.get(1).asLong)).toSeq
    val corpusIds = plain.read(run.spark, st.corpus).select(st.idCol)
      .collect().map(_.getLong(0)).toSet
    val comp = IngestLoop.readComponents(run.spark, plain, st).collect()
      .map(r => r.getLong(0) -> r.get(1)).toMap
    val stray = comp.keySet -- corpusIds
    val split = near.filter { case (a, b) =>
      corpusIds(a) && corpusIds(b) && (comp.get(a).isEmpty || comp.get(a) != comp.get(b))
    }
    Checks.all(
      if (stray.isEmpty) Right(()) else Left(s"component ids outside the corpus: ${stray.take(5)}"),
      if (split.isEmpty) Right(()) else Left(s"near-duplicate pairs not in one component: ${split.take(5)}"))
  }

  def close(): Unit = Workloads.deleteTree(dir)
}
