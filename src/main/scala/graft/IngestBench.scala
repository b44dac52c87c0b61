package graft

import org.apache.spark.sql.functions.col
import graft.ops.Pins

/** Dev tool: time the ingest loop's tick shapes in a fresh JVM —
  * `runMain graft.IngestBench [sfDir]`. The full Bench times them once
  * inside a 93-query sweep's accumulated JVM state; this isolates
  * them (build untimed, then first tick, then repeated quiescent
  * ticks — the steady-state "nothing new" cost). */
object IngestBench {
  def main(args: Array[String]): Unit = {
    val dir = args.lift(0).getOrElse("/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = Sessions.local(cpus)
    val root = java.nio.file.Files.createTempDirectory("graft_ingestbench_")
    try {
      val cat = new graft.catalog.ParquetCatalog(root.toString)
      val st = graft.streaming.IngestLoop.State(
        "corpus", "bloom", "pfx", "comps")
      val docs = Tables.documents(spark, dir).select("doc_id", "text")
      def timed(label: String)(f: => Unit): Unit = {
        val t0 = System.nanoTime()
        f
        println(f"[ingestbench] $label ${(System.nanoTime() - t0) / 1e9}%.2f s")
      }
      // JIT the whole loop path on the tiny sf first — the same warmup
      // Bench gives it, so the two report comparable tick numbers
      locally {
        val wcat = new graft.catalog.ParquetCatalog(
          root.resolve("warm").toString)
        val wdocs = Tables.documents(spark, "/root/testdata/sf0.001")
          .select("doc_id", "text")
        graft.streaming.IngestLoop.build(
          wdocs.filter(col("doc_id") % 10 =!= 0), wcat, st)
        graft.streaming.IngestLoop.ingest(
          wdocs.filter(col("doc_id") % 10 === 0), wcat, st)
      }
      timed("build (untimed in Bench)") {
        graft.streaming.IngestLoop.build(
          docs.filter(col("doc_id") % 10 =!= 0), cat, st)
      }
      val batch = Pins.pin(docs.filter(col("doc_id") % 10 === 0))
      timed("tick") {
        var last = System.nanoTime()
        graft.streaming.IngestLoop.ingestImpl(batch, cat, st, stage => {
          val now = System.nanoTime()
          println(f"[ingestbench]   ...$stage%-12s +${(now - last) / 1e9}%.2f s")
          last = now
        })
      }
      for (i <- 1 to 3)
        timed(s"quiescent$i")(graft.streaming.IngestLoop.ingest(batch, cat, st))
    } finally Sessions.deleteTree(root)
    spark.stop()
  }
}
