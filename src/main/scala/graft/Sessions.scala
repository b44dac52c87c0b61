package graft

import org.apache.spark.sql.SparkSession

/** The one session factory for the mains: every driver, bench and dev
  * tool runs under the same local-mode conf, so a query's plan and
  * timing differ between them only by what a main passes in `extra`. */
object Sessions {
  /** A `local[cpus]` session with one shuffle partition per core, UTC
    * session time, AQE on, nanosecond parquet timestamps read as longs
    * (the testdata's events carry them), no UI and WARN logging.
    * `extra` entries are applied last, so they override these. */
  def local(cpus: String, extra: (String, String)*): SparkSession = {
    val builder = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
    val spark = extra.foldLeft(builder) { case (b, (k, v)) => b.config(k, v) }
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** Drop every block this JVM is holding: cached tables, persisted
    * RDDs (an eager pin registers its blocks here), then — when
    * `gcPauseMs > 0` — a GC and a pause of that length so the
    * ContextCleaner reaps blocks whose RDD reference already died.
    * A bench JVM runs many queries back to back; without this the
    * leftover storage of query N raises memory pressure under query
    * N+1 and the bench measures the harness, not the operator (r7:
    * 1.8-10x phantom regressions on code-untouched queries). */
  def dropBlocks(spark: SparkSession, gcPauseMs: Long): Unit = {
    spark.catalog.clearCache()
    spark.sparkContext.getPersistentRDDs.values
      .foreach(_.unpersist(blocking = false))
    if (gcPauseMs > 0) { System.gc(); Thread.sleep(gcPauseMs) }
  }

  /** Delete `root` and everything under it (the benches' scratch
    * catalogs and artifact stores). */
  def deleteTree(root: java.nio.file.Path): Unit = {
    import scala.jdk.CollectionConverters._
    java.nio.file.Files.walk(root)
      .sorted(java.util.Comparator.reverseOrder[java.nio.file.Path]())
      .iterator().asScala.foreach(java.nio.file.Files.deleteIfExists(_))
  }
}
