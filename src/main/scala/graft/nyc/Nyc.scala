package graft.nyc

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.etl.{Cleanse, DateDim, Reports, Star}
import graft.ops.Exact

/** The reference pipeline's own domain, 1:1 — NYC TLC taxi trips
  * through silver cleanse, gold star-schema load, platinum report
  * marts. A user of ttneit/NYC-ETL-Pipeline switches by pointing these
  * functions at their monthly parquet + zone CSV.
  *
  * Reference defects fixed (SURVEY.md §2.3, §2.9):
  *  - R1: yellow conforms to the same canonical 17-column schema as
  *    green (trip_duration computed, dropna/fillna applied) and unions
  *    BY NAME — the reference's positional 17×16 union throws
  *    (gold.py:273).
  *  - R2: trip_duration is SECONDS (silver.py:85); reports divide by 60
  *    for minutes — the reference divides by 1000*60, off 1000×.
  */
object Nyc {

  /** Canonical silver trip schema — 17 columns (silver.py:67-86). */
  val canonicalColumns: Seq[String] = Seq(
    "VendorID", "pickup_datetime", "dropoff_datetime", "PULocationID",
    "DOLocationID", "RatecodeID", "passenger_count", "trip_distance",
    "fare_amount", "tip_amount", "tolls_amount", "total_amount",
    "payment_type", "airport_fee", "taxi_type", "total_surcharges",
    "trip_duration")

  /** Zone lookup schema (data/taxi_zone.csv: 265 rows + header). */
  val zoneSchema: StructType = StructType(Seq(
    StructField("LocationID", IntegerType),
    StructField("Borough", StringType),
    StructField("Zone", StringType),
    StructField("service_zone", StringType)))

  // ------------------------------------------------------------- silver

  /** Shared cleanse tail once the taxi-type specifics are normalized:
    * dedup → parse/rename timestamps → required non-null → casts →
    * total_surcharges → trip_duration (seconds) → fillna(0)
    * (silver.py:67-86 for green, 125-140 for yellow, conformed). An
    * input's `month_key` rides through, so dedup stays within a month. */
  private def cleanse(df: DataFrame, pickupSrc: String, dropoffSrc: String,
                      taxiType: String): DataFrame = {
    val renamed = Cleanse.rename(
      Cleanse.dedup(df),
      Map(pickupSrc -> "pickup_datetime", dropoffSrc -> "dropoff_datetime"))
    // F1: sources that ship timestamps as strings are parsed with the
    // reference's format (silver.py:72-73); typed sources pass through
    val tsCols = Seq("pickup_datetime", "dropoff_datetime")
      .filter(c => renamed.schema(c).dataType == StringType)
    val parsed = Cleanse.parseTimestamps(renamed, tsCols, "yyyy-MM-dd HH:mm:ss")
    val typed = Cleanse.castCols(
      Cleanse.requireNonNull(parsed, Seq("pickup_datetime", "dropoff_datetime")),
      Map("RatecodeID" -> IntegerType, "passenger_count" -> IntegerType,
        "payment_type" -> IntegerType))
    val derived = Cleanse.derive(typed,
      "taxi_type" -> lit(taxiType),
      "total_surcharges" -> (col("mta_tax") + col("extra")
        + col("improvement_surcharge") + col("congestion_surcharge")),
      "trip_duration" ->
        Cleanse.durationSeconds(col("pickup_datetime"), col("dropoff_datetime")))
    val kept = canonicalColumns ++ df.columns.filter(_ == "month_key")
    Cleanse.fillNumeric(derived.select(kept.map(col): _*), 0.0)
  }

  /** Green cleanse: drops ehail_fee/store_and_fwd_flag/trip_type,
    * constant airport_fee=0.0 (silver.py:67-86). */
  def cleanseGreen(green: DataFrame): DataFrame =
    cleanse(
      green.drop("ehail_fee", "store_and_fwd_flag", "trip_type")
        .withColumn("airport_fee", lit(0.0)),
      "lpep_pickup_datetime", "lpep_dropoff_datetime", "Green")

  /** Yellow cleanse: airport_fee from source; R1 fix — same canonical
    * tail as green (silver.py:125-140 conformed). */
  def cleanseYellow(yellow: DataFrame): DataFrame =
    cleanse(
      yellow.drop("store_and_fwd_flag"),
      "tpep_pickup_datetime", "tpep_dropoff_datetime", "Yellow")

  /** R1 fixed: by-name union of conformed silver frames (gold.py:270-273). */
  def unionTrips(frames: Seq[DataFrame]): DataFrame =
    Cleanse.unionConformed(frames)

  // --------------------------------------------------------------- gold

  /** Seed dimensions (create_datamart.sql:10-133 static inserts). */
  def seedVendors(spark: SparkSession): DataFrame = {
    import spark.implicits._
    Seq((1, "Creative Mobile Technologies"), (2, "VeriFone Inc"))
      .toDF("VendorID", "vendorName")
  }
  def seedPayments(spark: SparkSession): DataFrame = {
    import spark.implicits._
    Seq((1, "Credit card"), (2, "Cash"), (3, "No charge"), (4, "Dispute"),
      (5, "Unknown"), (6, "Voided trip"))
      .toDF("paymentID", "paymentType")
  }
  def seedRates(spark: SparkSession): DataFrame = {
    import spark.implicits._
    Seq((1, "Standard rate"), (2, "JFK"), (3, "Newark"),
      (4, "Nassau or Westchester"), (5, "Negotiated fare"), (6, "Group ride"))
      .toDF("RatecodeID", "rateName")
  }
  def seedTypes(spark: SparkSession): DataFrame = {
    import spark.implicits._
    Seq((1, "Green"), (2, "Yellow")).toDF("typeID", "typeName")
  }

  /** J3/U1: dim upsert rows for one key column — union of fresh keys
    * across taxi types, anti-joined to the dim, 'Unknown' labels,
    * sentinel 0 dropped (gold.py:84-106,144-165,202-222). */
  def dimUpsertRows(trips: DataFrame, dim: DataFrame, key: String,
                    nameCol: String): DataFrame =
    Star.dimUpsert(trips.select(key), dim.select(key), key, nameCol,
      concat(lit("Unknown "), col(key).cast("string")),
      sentinel = Some(lit(0)))

  /** E2: the fact build (gold.py:256-330). Watermark-incremental filter,
    * (d,m,y) joins to pickup and dropoff calendar dims, payment rename,
    * type join on taxi_type==typeName, fact projection, fillna(0).
    * Out-of-calendar trips drop via the inner joins — a reference
    * behavior we preserve (SURVEY §7.4 trap). */
  def factBuild(trips: DataFrame, dateDim: DataFrame, typeDim: DataFrame,
                watermark: Option[Any], keep: Seq[String] = Nil): DataFrame = {
    val incremental = Star.newerThan(trips, "pickup_datetime", watermark)
    val withPu = Star.joinDateDim(incremental, dateDim, "pickup_datetime", "date_puID")
    val withDo = Star.joinDateDim(withPu, dateDim, "dropoff_datetime", "date_doID")
    val typed = Star.joinDim(
      withDo.withColumnRenamed("payment_type", "paymentID"),
      typeDim.withColumnRenamed("typeName", "taxi_type"), Seq("taxi_type"))
    // `keep` rides extra source columns through the projection (e.g.
    // the pickup timestamp the incremental-append watermark needs) —
    // the canonical fact shape is the 17 columns alone
    Cleanse.fillNumeric(
      typed.select(Seq(
        col("VendorID"), col("date_puID"), col("date_doID"),
        col("PULocationID"), col("DOLocationID"), col("RatecodeID"),
        col("paymentID"), col("typeID"), col("passenger_count"),
        col("trip_distance"), col("fare_amount"), col("tip_amount"),
        col("tolls_amount"), col("total_amount"), col("airport_fee"),
        col("total_surcharges"), col("trip_duration")) ++ keep.map(col): _*),
      0.0)
  }

  // ----------------------------------------------------------- platinum

  /** Reference-fidelity switches (SURVEY §2.9). `rounded` emits the
    * reference's exact mart shape — round(mean,3)/round(sum,3) columns
    * named avg_<m>/total_<m> plus `total_trips` (platinum.py:88-112).
    * `legacyDurationScale` reproduces defect R2: durations are SECONDS
    * out of silver (silver.py:85) but platinum divides by 1000*60 as if
    * they were milliseconds (platinum.py:101-102) — with both flags on,
    * a legacy consumer's mart diffs byte-clean against this engine. */
  final case class Compat(rounded: Boolean = false,
                          legacyDurationScale: Boolean = false)

  /** The reference's measure list in its column order
    * (platinum.py:97-110). */
  private def compatMeasures(c: Compat): Seq[(String, org.apache.spark.sql.Column)] = {
    val durationScale = if (c.legacyDurationScale) 1000.0 * 60 else 60.0
    Seq(
      "passenger_count" -> col("passenger_count"),
      "trip_distance" -> col("trip_distance"),
      "trip_duration" -> (col("trip_duration") / durationScale),
      "tip_amount" -> col("tip_amount"),
      "tolls_amount" -> col("tolls_amount"),
      "total_amount" -> col("total_amount"),
      "fare_amount" -> col("fare_amount"))
  }

  private def reportMeasures = Seq(
    Reports.Measure("passenger_count", col("passenger_count"), Reports.Integral),
    Reports.Measure("trip_distance", col("trip_distance"), Reports.Money),
    Reports.Measure("trip_duration_min", col("trip_duration") / 60.0, Reports.Money),
    Reports.Measure("tip_amount", col("tip_amount"), Reports.Money),
    Reports.Measure("tolls_amount", col("tolls_amount"), Reports.Money),
    Reports.Measure("total_amount", col("total_amount"), Reports.Money),
    Reports.Measure("fare_amount", col("fare_amount"), Reports.Money))

  /** E3 monthly mart (platinum.py:69-154): fact ⋈ pickup calendar,
    * 7-key groupBy, mean+sum per measure + trip count. Durations are
    * true minutes (R2 fix); aggregates are bit-deterministic
    * (deviation from the reference's round(x,3), documented). */
  def monthlyReport(fact: DataFrame, dateDim: DataFrame,
                    compat: Compat = Compat()): DataFrame = {
    val dd = dateDim.select(col("dateID").as("date_puID"),
      col("month").as("month_pu"))
    val joined = Star.joinDim(fact, dd, Seq("date_puID"))
    val keys = Seq(col("PULocationID"), col("DOLocationID"), col("typeID"),
      col("VendorID"), col("month_pu"), col("RatecodeID"), col("paymentID"))
    if (compat.rounded) Reports.reportCompat(joined, keys, compatMeasures(compat))
    else Reports.report(joined, keys, reportMeasures)
  }

  /** E3 weekly mart (platinum.py:166-252): month key swapped for
    * (dayName, weekOfYear). */
  def weeklyReport(fact: DataFrame, dateDim: DataFrame,
                   compat: Compat = Compat()): DataFrame = {
    val dd = dateDim.select(col("dateID").as("date_puID"),
      col("dayName").as("dayOfWeek_pu"), col("weekOfYear").as("weekOfYear_pu"))
    val joined = Star.joinDim(fact, dd, Seq("date_puID"))
    val keys = Seq(col("PULocationID"), col("DOLocationID"), col("typeID"),
      col("VendorID"), col("dayOfWeek_pu"), col("weekOfYear_pu"),
      col("RatecodeID"), col("paymentID"))
    if (compat.rounded) Reports.reportCompat(joined, keys, compatMeasures(compat))
    else Reports.report(joined, keys, reportMeasures)
  }

  /** J6: attach pickup/dropoff zone attributes AFTER aggregation, as
    * the reference does (platinum.py:113-142 joins zones onto the
    * aggregated mart, renamed per side). Zones are tiny (265 rows) —
    * broadcast. */
  def attachZones(report: DataFrame, zones: DataFrame): DataFrame = {
    val pu = zones.select(col("LocationID").as("PULocationID"),
      col("Borough").as("pu_borough"), col("Zone").as("pu_zone"))
    val dz = zones.select(col("LocationID").as("DOLocationID"),
      col("Borough").as("do_borough"), col("Zone").as("do_zone"))
    Star.joinDim(Star.joinDim(report, pu, Seq("PULocationID")),
      dz, Seq("DOLocationID"))
  }

  /** The 2023 calendar the reference materializes via MySQL procedure
    * (create_datamart.sql:43-91). */
  def dateDim2023(spark: SparkSession): DataFrame =
    DateDim.build(spark, "2023-01-01", "2023-12-31")
}
