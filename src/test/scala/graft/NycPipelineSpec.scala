package graft

import java.sql.Timestamp
import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong
import scala.jdk.CollectionConverters._
import org.apache.spark.ListenerBusAccess
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.functions._
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.util.HadoopInputFile
import graft.catalog.{ParquetCatalog, TableCatalog}
import graft.nyc.NycPipeline
import graft.sources.Sources

/** nyc.NycPipeline: the medallion loop (bronze → silver → gold →
  * platinum over monthly TLC partitions) on a small synthetic TLC-shaped
  * fixture written to a temp dir — three green and three yellow monthly
  * files, so it runs wherever the tests do. NycPipelineGoldenSpec pins
  * the same loop against the real 2023 files when they are present. */
class NycPipelineSpec extends SparkTestBase {
  import spark.implicits._

  private val months = Seq("2023-01", "2023-02", "2023-03")

  // (VendorID, pickup, dropoff, RatecodeID, PU, DO, pax, dist, fare, tip,
  //  total, payment_type) — the TLC 2023-02+ physical types
  type Trip = (Int, Timestamp, Timestamp, Long, Int, Int, Long, Double, Double, Double, Double, Long)

  /** An ordinary trip: seeded vendor, rate and payment keys. */
  private def trip(pickup: String, i: Int): Trip = {
    val pu = Timestamp.valueOf(pickup)
    (1 + i % 2, pu, new Timestamp(pu.getTime + (10 + i) * 60000L), 1L,
      40 + i % 5, 50 + i % 3, 1L + i % 3, 1.5 + i, 10.0 + i, i * 0.25,
      14.0 + i * 1.25, 1L + i % 2)
  }

  /** Six ordinary trips per file month and taxi type. */
  private def monthTrips(m: String, day: Int): Seq[Trip] =
    (0 until 6).map(i => trip(f"$m-${day + i}%02d ${8 + i}%02d:15:00", i))

  /** The TLC 2023-01 physical types: keys as int64, the codes and
    * counts as double (February on ships int32 keys and int64 codes). */
  private val januaryTypes = Map("VendorID" -> "bigint", "PULocationID" -> "bigint",
    "DOLocationID" -> "bigint", "RatecodeID" -> "double", "passenger_count" -> "double",
    "payment_type" -> "double", "trip_type" -> "double")

  private lazy val srcDir = {
    val dir = java.nio.file.Files.createTempDirectory("graft-nyc-src").toString
    def write(taxi: String, m: String, trips: Seq[Trip]): Unit = {
      val (pre, own) =
        if (taxi == "green") ("lpep", Seq(lit(null).cast("double").as("ehail_fee"), lit(1L).as("trip_type")))
        else ("tpep", Seq(lit(0.0).as("airport_fee")))
      val df = trips.toDF("VendorID", s"${pre}_pickup_datetime", s"${pre}_dropoff_datetime",
          "RatecodeID", "PULocationID", "DOLocationID", "passenger_count",
          "trip_distance", "fare_amount", "tip_amount", "total_amount", "payment_type")
        .select(Seq(col("*"), lit("N").as("store_and_fwd_flag"), lit(0.5).as("extra"),
          lit(0.5).as("mta_tax"), lit(0.0).as("tolls_amount"),
          lit(0.3).as("improvement_surcharge"), lit(2.5).as("congestion_surcharge")) ++ own: _*)
      val typed = if (m != "2023-01") df else df.select(df.columns.map(c =>
        januaryTypes.get(c).fold(col(c))(t => col(c).cast(t).as(c))).toIndexedSeq: _*)
      typed.coalesce(1).write.parquet(s"$dir/$taxi/$m.parquet")
    }
    val edges: Map[(String, String), Seq[Trip]] = Map(
      // a January file carries an early-February pickup (stays January)
      // and a pickup outside the 2023 calendar (pruned from the fact)
      ("green", "2023-01") -> Seq(trip("2023-02-01 00:30:00", 7),
        trip("2022-12-31 23:00:00", 8)),
      // vendor, rate and payment keys absent from the seeded dims
      ("green", "2023-02") -> Seq(trip("2023-02-14 12:00:00", 9)
        .copy(_1 = 6, _4 = 99L, _12 = 7L)),
      // the sentinel 0 on every upserted key
      ("yellow", "2023-03") -> Seq(trip("2023-03-20 18:45:00", 10)
        .copy(_1 = 0, _4 = 0L, _12 = 0L)))
    for (taxi <- Seq("green", "yellow"); (m, day) <- months.zip(Seq(3, 10, 17)))
      write(taxi, m, monthTrips(m, day) ++ edges.getOrElse((taxi, m), Nil))
    dir
  }
  // 6 ordinary trips × 3 months × 2 taxi types + 4 edge rows, of which
  // the calendar join drops only the 2022 pickup
  private val (silverRows, factRows) = (40L, 39L)

  private def warehouse() =
    new ParquetCatalog(java.nio.file.Files.createTempDirectory("graft-nyc-wh").toString)
  private def config(catalog: TableCatalog = warehouse()): NycPipeline.Config =
    NycPipeline.Config(s"$srcDir/green", catalog, yellowDir = Some(s"$srcDir/yellow"))

  private lazy val year = { val cfg = config(); NycPipeline.runYear(spark, cfg, months); cfg }
  /** The same months through the monthly tick, one after another. */
  private lazy val monthly = {
    val cfg = config(); months.foreach(NycPipeline.runMonth(spark, cfg, _)); cfg
  }
  private def read(cfg: NycPipeline.Config, t: String) = cfg.catalog.read(spark, t)
  private def root(cfg: NycPipeline.Config) = cfg.catalog.asInstanceOf[ParquetCatalog].root
  private def monthFact(cfg: NycPipeline.Config, m: String) =
    read(cfg, "fact_nyc").filter(col("month_key") === m)

  private def sameRows(a: DataFrame, b: DataFrame): Boolean =
    a.exceptAll(b).isEmpty && b.exceptAll(a).isEmpty

  test("runYear materializes every layer; marts account for every fact row") {
    for (t <- Seq("bronze_green", "bronze_yellow", "silver_trips", "fact_nyc"))
      assert(new java.io.File(s"${root(year)}/$t").list().filter(_.startsWith("month_key="))
        .sorted.toSeq == months.map("month_key=" + _), t)
    assert(read(year, "silver_trips").count() == silverRows)
    assert(read(year, "fact_nyc").count() == factRows)
    // the spill-over February pickup stays in its January file's partition
    assert(monthFact(year, "2023-01").count() == 13L)
    for (t <- Seq("report_monthly", "report_weekly")) {
      val mart = read(year, t)
      assert(!mart.isEmpty, t)
      assert(mart.agg(sum("total_rows")).head().getLong(0) == factRows, t)
    }
  }

  test("each raw file's footer schema is the one Spark infers, January's drift included") {
    val files = for (taxi <- Seq("green", "yellow"); m <- months) yield s"$srcDir/$taxi/$m.parquet"
    for (f <- files)
      assert(Sources.readParquet(spark, f).schema == spark.read.parquet(f).schema, f)
    assert(spark.read.parquet(files.head).schema("VendorID").dataType.typeName == "long")
    assert(spark.read.parquet(files(1)).schema("VendorID").dataType.typeName == "integer")
  }

  test("every table's part files agree on one physical schema") {
    val once = config()
    NycPipeline.runMonth(spark, once, "2023-02")
    val conf = spark.sparkContext.hadoopConfiguration
    def hidden(n: String) = n.startsWith("_") || n.startsWith(".")
    for (cfg <- Seq(year, once); t <- new java.io.File(root(cfg)).list().filterNot(hidden)) {
      val schemas = java.nio.file.Files.walk(java.nio.file.Paths.get(root(cfg), t))
        .iterator().asScala.map(_.toString)
        .filter { p => val n = p.split('/').last; n.endsWith(".parquet") && !hidden(n) }
        .map { p =>
          val r = ParquetFileReader.open(
            HadoopInputFile.fromPath(new org.apache.hadoop.fs.Path(p), conf))
          try r.getFooter.getFileMetaData.getSchema.getColumns.asScala.map { c =>
            val pt = c.getPrimitiveType
            s"${c.getPath.mkString(".")}:${pt.getPrimitiveTypeName}:${pt.getLogicalTypeAnnotation}"
          }.mkString(", ")
          finally r.close()
        }.toSet
      assert(schemas.size == 1, s"$t: ${schemas.mkString(" | ")}")
    }
  }

  test("dim upserts label novel keys 'Unknown <k>' and never upsert sentinel 0") {
    def unknown(t: String, key: String, name: String) = {
      val dim = read(year, t)
      assert(dim.filter(col(key) === 0).isEmpty, t)
      dim.filter(col(name).startsWith("Unknown ")).as[(Int, String)].collect().toSet
    }
    assert(unknown("dim_vendor", "VendorID", "vendorName") == Set((6, "Unknown 6")))
    assert(unknown("dim_payment", "paymentID", "paymentType") == Set((7, "Unknown 7")))
    assert(unknown("dim_rate", "RatecodeID", "rateName") == Set((99, "Unknown 99")))
  }

  test("a month filter on fact_nyc prunes partitions at the scan") {
    val feb = monthFact(year, "2023-02")
    val scan = feb.queryExecution.sparkPlan.collect { case f: FileSourceScanExec => f }
    assert(scan.size == 1 && scan.head.partitionFilters.nonEmpty,
      "month_key should be a partition filter")
    assert(feb.count() == 13L)
  }

  test("runMonth equals runYear's partition, is idempotent, and adds months beside it") {
    val cfg = config()
    for (_ <- 1 to 2) { // the re-run replaces the partition with itself
      NycPipeline.runMonth(spark, cfg, "2023-02")
      assert(sameRows(read(cfg, "fact_nyc"), monthFact(year, "2023-02")))
    }
    NycPipeline.runMonth(spark, cfg, "2023-03")
    assert(read(cfg, "fact_nyc").select("month_key").distinct().count() == 2L)
    for (m <- Seq("2023-02", "2023-03"))
      assert(sameRows(monthFact(cfg, m), monthFact(year, m)), m)
  }

  test("a second goldAppend of the same month adds no rows and keeps the dims") {
    val cfg = config()
    NycPipeline.ingest(spark, cfg, Seq("2023-02"))
    val dims = Seq("dim_vendor", "dim_payment", "dim_rate")
    def snapshot() = (read(cfg, "fact_nyc").count(), dims.map(read(cfg, _).collect().toSet))
    NycPipeline.goldAppend(spark, cfg, "2023-02")
    val first = snapshot()
    NycPipeline.goldAppend(spark, cfg, "2023-02")
    assert(first._1 == 13L && snapshot() == first)
  }

  test("runYear is pure orchestration: every table equals runMonth's over the same months") {
    for (t <- Seq("bronze_green", "bronze_yellow", "silver_trips", "fact_nyc",
        "dim_vendor", "dim_payment", "dim_rate", "dim_date", "dim_type",
        "report_monthly", "report_weekly"))
      assert(sameRows(read(monthly, t), read(year, t)), t)
  }

  test("goldAppend recovers a crashed append: month rebuilt, marker gone, watermark kept") {
    val cfg = config()
    NycPipeline.ingest(spark, cfg, Seq("2023-01", "2023-02"))
    for (m <- Seq("2023-01", "2023-02")) NycPipeline.goldAppend(spark, cfg, m)
    def watermark() = read(cfg, "fact_nyc_watermark").head().get(0).toString
    val before = watermark()
    // the crash state the intent marker fences: February appended twice,
    // the run dead before the watermark write and the marker drop
    cfg.catalog.append(monthFact(cfg, "2023-02"), "fact_nyc",
      partitionBy = Seq("month_key"))
    assert(monthFact(cfg, "2023-02").count() == 26L)
    cfg.catalog.overwrite(Seq("2023-02").toDF("month_key"), "fact_nyc_append_pending")
    NycPipeline.goldAppend(spark, cfg, "2023-02")
    assert(sameRows(monthFact(cfg, "2023-02"), monthFact(monthly, "2023-02")))
    assert(!cfg.catalog.exists(spark, "fact_nyc_append_pending"))
    assert(watermark() >= before, s"watermark went back from $before")
    val rows = read(cfg, "fact_nyc").count()
    NycPipeline.goldAppend(spark, cfg, "2023-02")
    assert(read(cfg, "fact_nyc").count() == rows)
  }

  test("goldAppend drops a half-written intent marker and loads the month once") {
    val cfg = config()
    NycPipeline.ingest(spark, cfg, Seq("2023-02"))
    val marker = s"${root(cfg)}/fact_nyc_append_pending"
    // what a crash inside the marker's own overwrite leaves: an empty
    // directory, one holding only the job's _temporary, a rowless table
    val halfWritten = Seq[() => Unit](
      () => new java.io.File(marker).mkdirs(),
      () => new java.io.File(s"$marker/_temporary/0").mkdirs(),
      () => cfg.catalog.overwrite(Seq.empty[String].toDF("month_key"), "fact_nyc_append_pending"))
    for ((leave, i) <- halfWritten.zipWithIndex) {
      leave()
      NycPipeline.goldAppend(spark, cfg, "2023-02")
      assert(monthFact(cfg, "2023-02").count() == 13L, s"marker $i")
      assert(!cfg.catalog.exists(spark, "fact_nyc_append_pending"), s"marker $i")
    }
  }

  /** Delegates to a fresh warehouse and records when the last
    * `silver_trips` write returned. `runYear` writes silver before gold
    * starts, so every job submitted from then on belongs to the dims,
    * the fact or platinum. */
  private final class SilverClock extends TableCatalog {
    private val inner = warehouse()
    val silverDone = new AtomicLong()
    def read(s: SparkSession, t: String): DataFrame = inner.read(s, t)
    def exists(s: SparkSession, t: String): Boolean = inner.exists(s, t)
    def append(df: DataFrame, t: String, p: Seq[String]): Unit = inner.append(df, t, p)
    def overwrite(df: DataFrame, t: String, p: Seq[String]): Unit = inner.overwrite(df, t, p)
    def drop(s: SparkSession, t: String): Unit = inner.drop(s, t)
    override def supportsPartitionReplace: Boolean = true
    override def replacePartitions(df: DataFrame, t: String, p: Seq[String]): Unit = {
      inner.replacePartitions(df, t, p)
      if (t == "silver_trips") silverDone.accumulateAndGet(System.currentTimeMillis(), math.max)
    }
  }

  /** Spark jobs one `runYear` over `ms` submits: (all, after silver). */
  private def runYearJobs(ms: Seq[String]): (Int, Int) = {
    val submitted = new ConcurrentLinkedQueue[java.lang.Long]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = submitted.add(e.time)
    }
    val clock = new SilverClock
    ListenerBusAccess.drain(spark.sparkContext)
    spark.sparkContext.addSparkListener(listener)
    try {
      NycPipeline.runYear(spark, config(clock), ms)
      ListenerBusAccess.drain(spark.sparkContext)
    } finally spark.sparkContext.removeSparkListener(listener)
    val times = submitted.asScala.map(_.longValue)
    (times.size, times.count(_ >= clock.silverDone.get))
  }

  test("runYear's job count does not grow with the months") {
    // February carries a novel key for every upsert dim, so both runs append to all three
    val one = runYearJobs(Seq("2023-02"))
    val three = runYearJobs(months)
    info(s"jobs (all, after silver): 1 month $one, 3 months $three")
    assert(three == one, s"jobs (all, after silver): $one for 1 month, $three for 3")
    assert(three._1 <= JobBudget, s"${three._1} jobs for 3 months")
  }
  // the total measured once every layer wrote all its months in one
  // plan, the same for 1 month and for 3 (43 and 57 while bronze and
  // silver ran per month, 73 for 3 while gold did too)
  private val JobBudget = 41
}
