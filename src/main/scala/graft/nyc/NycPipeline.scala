package graft.nyc

import scala.jdk.CollectionConverters._
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{NullType, StructField, StructType}
import graft.catalog.TableCatalog
import graft.etl.Star
import graft.ops.Pins
import graft.sources.Sources

/** The reference's ORCHESTRATION loop, 1:1 — monthly Dagster partitions
  * driven bronze → silver → gold → platinum over the real TLC parquet
  * (reference: `MonthlyPartitionsDefinition(start_date="2023-01-01")`,
  * bronze.py:49; per-layer assets bronze.py/silver.py/gold.py/
  * platinum.py) — on top of the per-layer operators in [[Nyc]].
  *
  * Unit of work is one `yyyy-MM` FILE month (the raw file's name, not
  * the pickup month inside it — a January file legitimately carries a
  * few early-February pickups, and they stay in January's partition
  * exactly as the reference's per-file processing leaves them). A run
  * takes any set of months and writes each layer once for all of them
  * ([[runYear]]; [[runMonth]] is its one-month case). Every
  * fact/silver/bronze write is a dynamic partition REPLACE on
  * `month_key`, so re-running any month is idempotent (the reference's
  * backfill semantics).
  *
  * Incremental append ([[goldAppend]]) follows the reference's
  * watermark contract (gold.py:56-65,278) with defect R3 fixed: the
  * reference watermarks on max pickup DATE (day-granular via
  * `dim_date_pu`) and filters `pickup_datetime > latest`, which
  * re-inserts every already-loaded trip on the watermark day (append
  * duplicates) while still dropping sub-day late arrivals. We watermark
  * on the exact max loaded pickup TIMESTAMP (persisted as a one-row
  * catalog table — the fact table itself does not retain timestamps,
  * matching the reference's 17-column fact): strictly-newer rows load
  * once, never twice. Late arrivals at or below the watermark are
  * dropped in BOTH contracts; the recovery path for those is
  * [[runMonth]]'s partition rebuild, which is watermark-independent.
  */
object NycPipeline {
  final case class Config(greenDir: String, catalog: TableCatalog,
                          yellowDir: Option[String] = None,
                          zonePath: Option[String] = None)

  private val WmTable = "fact_nyc_watermark"

  /** The reference's 2023 partition keys in calendar order. */
  val months2023: Seq[String] = (1 to 12).map(m => f"2023-$m%02d")

  // ------------------------------------------------------------- bronze

  /** The TLC monthly files DRIFT: 2023-01 ships RatecodeID /
    * passenger_count / payment_type / trip_type as double and the key
    * columns as int64, while 2023-02..12 ship the former as int64 and
    * the keys as int32 (measured across the real files). A bronze
    * table whose partitions carry different physical types fails at
    * scan time (parquet column-type mismatch against the inferred
    * table schema), and months of different types do not union, so
    * ingest conforms every drifting column to its WIDEST observed
    * type — lossless casts, applied per month, making every month and
    * the accumulated table one coherent schema. */
  private val conformTypes: Map[String, String] = Map(
    "VendorID" -> "bigint", "PULocationID" -> "bigint",
    "DOLocationID" -> "bigint", "RatecodeID" -> "double",
    "passenger_count" -> "double", "payment_type" -> "double",
    "trip_type" -> "double", "ehail_fee" -> "double",
    "congestion_surcharge" -> "double", "airport_fee" -> "double")

  /** Verbatim ingest of `months` of one taxi type into `table` as ONE
    * union write of the months' files, each type-conformed (see
    * [[conformTypes]]; an unmapped NULL-typed column, all-null and
    * pandas-written, becomes double — parquet cannot store a void
    * column) and tagged with its `month_key`. Returns the union for
    * silver to cleanse without reading the bronze table back. */
  private def bronze(spark: SparkSession, cfg: Config, dir: String, table: String,
                     months: Seq[String]): DataFrame = {
    val all = months.map { month =>
      val raw = Sources.readParquet(spark, s"$dir/$month.parquet")
      // conformTypes FIRST even for NULL-typed columns: an all-null
      // month of a conformed column must land as the conformed type,
      // or that month's type diverges from the rest of the table
      raw.select(raw.schema.fields.toSeq.map { f =>
        conformTypes.get(f.name) match {
          case Some(t) => col(f.name).cast(t).as(f.name)
          case None if f.dataType == NullType => col(f.name).cast("double").as(f.name)
          case None => col(f.name)
        }
      } :+ lit(month).as("month_key"): _*)
    }.reduce(_.unionByName(_))
    cfg.catalog.replacePartitions(all, table, partitionBy = Seq("month_key"))
    all
  }

  // ------------------------------------------------------------- silver

  /** Bronze then silver for `months`, one write per table. Silver
    * cleanses bronze's frames to the canonical 17-column trip schema
    * plus `month_key` and unions green + yellow BY NAME (R1 fix — the
    * reference's positional union throws, gold.py:273). */
  def ingest(spark: SparkSession, cfg: Config, months: Seq[String]): Unit = {
    val green = Nyc.cleanseGreen(bronze(spark, cfg, cfg.greenDir, "bronze_green", months))
    val yellow = cfg.yellowDir.map(dir =>
      Nyc.cleanseYellow(bronze(spark, cfg, dir, "bronze_yellow", months)))
    cfg.catalog.replacePartitions(Nyc.unionTrips(green +: yellow.toSeq),
      "silver_trips", partitionBy = Seq("month_key"))
  }

  // --------------------------------------------------------------- gold

  /** Seed dimensions once (create_datamart.sql static inserts + the
    * reference's 2023 calendar), idempotently; the missing ones are
    * written side by side. */
  private def ensureDims(spark: SparkSession, cfg: Config): Unit = {
    val missing = Seq[(String, SparkSession => DataFrame)](
        "dim_date" -> Nyc.dateDim2023,
        "dim_type" -> Nyc.seedTypes, "dim_vendor" -> Nyc.seedVendors,
        "dim_payment" -> Nyc.seedPayments, "dim_rate" -> Nyc.seedRates)
      .filterNot { case (table, _) => cfg.catalog.exists(spark, table) }
      .map { case (table, seed) => table -> seed(spark) }
    inPool(missing) { case (table, df) => cfg.catalog.overwrite(df, table) }
  }

  /** The three upsert dims: (table, trip key, dim key, name column). */
  private val upserted = Seq(
    ("dim_vendor", "VendorID", "VendorID", "vendorName"),
    ("dim_payment", "payment_type", "paymentID", "paymentType"),
    ("dim_rate", "RatecodeID", "RatecodeID", "rateName"))

  /** The reference's three dim-upsert assets (gold.py:84-106,144-165,
    * 202-222): append 'Unknown <key>' rows for keys seen in the trips
    * but absent from the dim.
    *
    * One scan of `trips` collects all three key sets; each dim's novel
    * rows are then computed once, collected, and appended if any, the
    * three dims side by side. The key sets and the novel rows are held
    * on the driver, which is dim-sized: a key set holds at most the
    * dim's keys plus the novel ones, and a dimension is small enough
    * to broadcast — the assumption every star join here makes
    * ([[Star.joinDim]]). The work is O(trips) for the one scan, O(dim)
    * after it. */
  private def upsertDims(spark: SparkSession, cfg: Config, trips: DataFrame): Unit = {
    val seen = trips.select(upserted.map(u => collect_set(col(u._2))): _*).head()
    inPool(upserted.zipWithIndex) { case ((table, tripKey, dimKey, nameCol), i) =>
      val keys = spark.createDataFrame(seen.getSeq[Any](i).map(Row(_)).asJava,
        StructType(Seq(StructField(dimKey, trips.schema(tripKey).dataType))))
      val novel = Nyc.dimUpsertRows(keys, cfg.catalog.read(spark, table), dimKey, nameCol)
      val rows = novel.collect()
      if (rows.nonEmpty)
        cfg.catalog.append(spark.createDataFrame(rows.toSeq.asJava, novel.schema), table)
    }
  }

  /** `silver_trips`' partitions for `months`, `month_key` kept. */
  private def silverOf(spark: SparkSession, cfg: Config, months: Seq[String]): DataFrame =
    cfg.catalog.read(spark, "silver_trips").filter(col("month_key").isin(months: _*))

  /** Dims seeded, then the upsert dims refreshed from the months'
    * silver BESIDE the fact write that replaces every month's fact
    * partition — idempotent and watermark-independent (the reference's
    * backfill unit), shared by [[runYear]] and the append recovery. The fact
    * build reads only `dim_date` and `dim_type`, never an upsert dim,
    * so the two cannot observe each other. It has no shuffle and
    * `month_key` is the partition column, so one write covers any
    * number of months. */
  private def gold(spark: SparkSession, cfg: Config, months: Seq[String]): Unit = {
    ensureDims(spark, cfg)
    val silver = silverOf(spark, cfg, months)
    inPool(Seq[() => Unit](
      () => upsertDims(spark, cfg, silver),
      () => cfg.catalog.replacePartitions(
        Nyc.factBuild(silver, cfg.catalog.read(spark, "dim_date"),
          cfg.catalog.read(spark, "dim_type"), None, keep = Seq("month_key")),
        "fact_nyc", partitionBy = Seq("month_key"))))(_())
  }

  /** Watermark-incremental fact APPEND (the reference's
    * insert_fact_table contract, gold.py:256-330, R3 fixed — see the
    * object doc): load the month's trips strictly newer than the
    * persisted max pickup timestamp, append their fact rows, advance
    * the watermark to the max pickup that actually landed (calendar-
    * pruned rows do not advance it).
    *
    * The append and the watermark advance are two writes with no
    * cross-table transaction (parquet; a lakehouse table format is
    * what fixes this for real), so a crash between them would make a
    * naive retry re-append the whole batch. The two-write commit is
    * therefore fenced by an INTENT MARKER (the [[PendingTable]]
    * protocol, same family as `ParquetCatalog.compact`'s marker):
    * marker → append → watermark → marker drop. Any run that finds a
    * leftover marker first runs [[recoverPendingAppend]] — a
    * watermark-independent partition rebuild of the marked month plus
    * a watermark re-derivation — restoring load-once-never-twice
    * before new work. Recovery deliberately lands the month's FULL
    * backfill semantics (late arrivals included, like [[runMonth]]):
    * after a crash the batch/late split is unknowable, and the rebuild
    * is the contract that needs no history. */
  def goldAppend(spark: SparkSession, cfg: Config, month: String): Unit = {
    ensureDims(spark, cfg)
    recoverPendingAppend(spark, cfg)
    val trips = silverOf(spark, cfg, Seq(month))
    upsertDims(spark, cfg, trips)
    val wm =
      if (cfg.catalog.exists(spark, WmTable))
        Star.watermark(cfg.catalog.read(spark, WmTable), "max_pickup")
      else None
    // factBuild keeps the pickup timestamp riding along so ONE persisted
    // frame yields both the appended fact rows and the new watermark —
    // no second pass over the month, and the watermark only sees rows
    // that survived the calendar prune (a 2024-dated outlier must not
    // fence out genuine 2023 arrivals behind it)
    val factPlus = factWithPickup(spark, cfg, trips, wm)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      if (!factPlus.isEmpty) {
        val sess = spark
        import sess.implicits._
        cfg.catalog.overwrite(Seq(month).toDF("month_key"), PendingTable)
        cfg.catalog.append(
          factPlus.drop("pickup_datetime").withColumn("month_key", lit(month)),
          "fact_nyc", partitionBy = Seq("month_key"))
        cfg.catalog.overwrite(
          factPlus.agg(max(col("pickup_datetime")).as("max_pickup")), WmTable)
        cfg.catalog.drop(spark, PendingTable)
      }
    } finally factPlus.unpersist()
  }

  private val PendingTable = "fact_nyc_append_pending"

  /** `trips`' fact rows newer than `wm`, pickup timestamp kept for the
    * watermark — shared by [[goldAppend]] and its recovery. */
  private def factWithPickup(spark: SparkSession, cfg: Config, trips: DataFrame,
                             wm: Option[Any]): DataFrame =
    Nyc.factBuild(trips, cfg.catalog.read(spark, "dim_date"),
      cfg.catalog.read(spark, "dim_type"), wm, keep = Seq("pickup_datetime"))

  /** Crash recovery for [[goldAppend]]'s two-write commit: a leftover
    * intent marker means a prior run died somewhere between declaring
    * the append and dropping the marker — the month's partition may
    * hold zero, one, or (after an earlier naive retry) two copies of
    * an unknown batch. Rebuild the marked month from silver
    * (the backfill's gold — idempotent, watermark-independent), then
    * re-derive the watermark as max(previous, month's calendar-
    * surviving pickups) so the fence never moves backwards, and drop
    * the marker last (a crash inside recovery just reruns it). An
    * unreadable or rowless marker is a crash inside the marker write,
    * before any append: it is dropped with nothing to recover. */
  private def recoverPendingAppend(spark: SparkSession, cfg: Config): Unit = {
    if (cfg.catalog.exists(spark, PendingTable)) {
      val marked = scala.util.Try(
        cfg.catalog.read(spark, PendingTable).head(1).headOption.map(_.getString(0)))
      marked.toOption.flatten.foreach { m =>
        gold(spark, cfg, Seq(m))
        val monthMax = factWithPickup(spark, cfg, silverOf(spark, cfg, Seq(m)), None)
          .agg(max(col("pickup_datetime")).as("max_pickup"))
        val merged =
          if (cfg.catalog.exists(spark, WmTable))
            monthMax.unionByName(
                cfg.catalog.read(spark, WmTable).select(col("max_pickup")))
              .agg(max(col("max_pickup")).as("max_pickup"))
          else monthMax
        // merged reads WmTable lazily; materialize BEFORE overwriting it
        // (overwrite would otherwise delete its own input mid-plan)
        val pinned = Pins.pin(merged)
        cfg.catalog.overwrite(pinned, WmTable)
      }
      cfg.catalog.drop(spark, PendingTable)
    }
  }

  // ----------------------------------------------------------- platinum

  /** Refresh both report marts off the accumulated fact (platinum.py:
    * 61-252), zones attached when a lookup CSV is configured; the two
    * mart writes run side by side. */
  def platinum(spark: SparkSession, cfg: Config): Unit = {
    val fact = cfg.catalog.read(spark, "fact_nyc").drop("month_key")
    val dd = cfg.catalog.read(spark, "dim_date")
    val zones = cfg.zonePath.map(p =>
      Sources.readCsv(spark, p, Some(Nyc.zoneSchema)))
    def withZones(df: DataFrame): DataFrame =
      zones.fold(df)(z => Nyc.attachZones(df, z))
    inPool(Seq(
        "report_monthly" -> Nyc.monthlyReport(fact, dd),
        "report_weekly" -> Nyc.weeklyReport(fact, dd))) {
      case (table, mart) => cfg.catalog.overwrite(withZones(mart), table)
    }
  }

  // -------------------------------------------------------------- runs

  /** One month end-to-end — the reference user's "re-run March": the
    * one-month case of [[runYear]], so an idempotent rebuild of the
    * month's partitions in every layer plus a mart refresh. */
  def runMonth(spark: SparkSession, cfg: Config, month: String): Unit =
    runYear(spark, cfg, Seq(month))

  /** A backfill of `months`: [[ingest]], then gold (the dims seeded,
    * the upsert dims refreshed from ONE scan of the months' silver
    * beside ONE fact write), then platinum, each table written once
    * for all the months. Partition replace makes every table equal a
    * month-by-month run's: novel dim keys are a set difference against
    * the seed and the fact build never reads an upsert dim. The marts
    * aggregate the whole fact, so one refresh at the end gives the
    * tables per-month refreshes would (the reference, asset-driven,
    * refreshes per partition — an orchestration cost, not a semantic
    * one). */
  def runYear(spark: SparkSession, cfg: Config,
              months: Seq[String] = months2023): Unit = {
    ingest(spark, cfg, months)
    gold(spark, cfg, months)
    platinum(spark, cfg)
  }

  /** Driver pool width for independent writes run side by side: the
    * missing seed dims, the dim upserts beside the fact, the two marts
    * and [[NycScale.amplify]]'s months — short planning- and commit-
    * bound jobs whose overlap fills executors one job's tail idles
    * (6 was A/B-measured on the 10× year, 3 → 6 cutting ~12%). */
  private val PoolWidth = 6

  /** Run `f` over `items` from a fixed pool of [[PoolWidth]] driver
    * threads, propagating the first failure after all work settles. */
  private[nyc] def inPool[A](items: Seq[A])(f: A => Unit): Unit = {
    val pool = java.util.concurrent.Executors.newFixedThreadPool(PoolWidth)
    try {
      val futures = items.map(it =>
        pool.submit(new java.util.concurrent.Callable[Unit] {
          def call(): Unit = f(it)
        }))
      futures.foreach(_.get())
    } finally pool.shutdown()
  }
}
