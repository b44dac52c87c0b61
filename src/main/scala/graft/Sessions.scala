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
}
