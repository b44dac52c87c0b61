package graft.nyc

import org.apache.spark.sql.SparkSession

/** The 10× scale-stress run shared by [[graft.Bench]] (rows
  * `nyc_10x_gen` + `nyc_10x_pipeline`) and standalone use
  * (`runMain graft.nyc.NycScaleBench [factor]`): amplify the real
  * green year with [[NycScale]] into a temp dir, run the full
  * [[NycPipeline.runYear]] over it, report both wall times, delete
  * everything. The reference's README concedes its platinum layer
  * falls over at roughly this volume — this row is the standing proof
  * the repo's pipeline doesn't, and the 1×-vs-10× pair in
  * docs/SCALE.md is the measured scaling exponent. */
object NycScaleBench {
  val greenDir = "/root/reference/data/green_data"
  val zonePath = "/root/reference/data/taxi_zone.csv"

  def available: Boolean =
    new java.io.File(s"$greenDir/2023-01.parquet").canRead

  /** Returns (gen seconds, pipeline seconds). */
  def run(spark: SparkSession, factor: Int): (Double, Double) = {
    val root = java.nio.file.Files.createTempDirectory("graft_nyc10x_")
    try {
      val ampDir = root.resolve("amplified").toString
      val t0 = System.nanoTime()
      NycScale.amplify(spark, greenDir, ampDir,
        NycPipeline.months2023, factor)
      val gen = (System.nanoTime() - t0) / 1e9
      val cfg = NycPipeline.Config(ampDir,
        new graft.catalog.ParquetCatalog(root.resolve("cat").toString),
        zonePath = Some(zonePath))
      val t1 = System.nanoTime()
      NycPipeline.runYear(spark, cfg)
      (gen, (System.nanoTime() - t1) / 1e9)
    } finally {
      import scala.jdk.CollectionConverters._
      java.nio.file.Files.walk(root).sorted(
          java.util.Comparator.reverseOrder[java.nio.file.Path]())
        .iterator().asScala.foreach(java.nio.file.Files.deleteIfExists(_))
    }
  }

  def main(args: Array[String]): Unit = {
    val factor = args.lift(0).map(_.toInt).getOrElse(10)
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = graft.Sessions.local(cpus)
    val (gen, pipe) = run(spark, factor)
    println(f"[nyc_scale] factor=$factor gen=$gen%.1f s pipeline=$pipe%.1f s")
    spark.stop()
  }
}
