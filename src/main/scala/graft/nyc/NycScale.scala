package graft.nyc

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.NullType

/** Deterministic volume amplification of a TLC monthly directory — the
  * scale-stress harness for [[NycPipeline]]. The reference's own README
  * concedes its platinum layer "can be crashed" by yellow-taxi volume at
  * ~800k rows/year; this generator manufactures an N× year from the real
  * green files so the repo's pipeline can be MEASURED at that volume and
  * beyond (reference: README.md capacity note; raw files
  * `data/green_data/2023-*.parquet`).
  *
  * Copy 0 is the identity; copy k > 0 jitters both trip timestamps by
  * the same hash-derived ±15 min (duration, file-month semantics, and
  * calendar distribution all survive), so the amplified month is not 10
  * bit-identical partitions — dedup/distinct paths see realistic
  * near-duplicates, aggregates see shifted keys. Everything derives
  * from xxhash64(pickup, dropoff, copy), so two runs produce
  * byte-identical data: bench rows stay comparable across rounds.
  *
  * Each month amplifies independently (the pipeline's own unit of
  * work) and any all-null NullType column is stabilized to double
  * before the write, exactly like bronze ingest — parquet cannot store
  * a void column. */
object NycScale {
  /** Amplify `months` from `srcDir` into `dstDir` (one
    * `<month>.parquet` DIRECTORY per month — `spark.read.parquet`
    * treats it like the reference's single file). Months are
    * independent single-write units, so they overlap from
    * [[NycPipeline.inPool]]: the next month's tasks back-fill executors
    * idled by the current month's straggler tail. */
  def amplify(spark: SparkSession, srcDir: String, dstDir: String,
              months: Seq[String], factor: Int): Unit =
    NycPipeline.inPool(months) { m =>
      amplifyFrame(spark.read.parquet(s"$srcDir/$m.parquet"), factor)
        .write.mode("overwrite").parquet(s"$dstDir/$m.parquet")
    }

  /** The per-frame core: factor copies with per-copy timestamp
    * jitter, as ONE scan + a generator — the k-way self-union form
    * re-read the source once per copy and carried factor plan
    * branches into the write; exploding the copy index produces the
    * identical row multiset (copy 0 bit-untouched, copy k > 0
    * jittered by the same hash of the PRE-shift timestamps) from a
    * single pass. */
  def amplifyFrame(raw: DataFrame, factor: Int): DataFrame = {
    require(factor >= 1, s"factor must be >= 1, got $factor")
    val df = raw.schema.fields.foldLeft(raw.toDF()) { (d, f) =>
      if (f.dataType == NullType) d.withColumn(f.name, col(f.name).cast("double"))
      else d
    }
    val pu = df.columns.find(_.toLowerCase.endsWith("pickup_datetime"))
      .getOrElse(sys.error("no pickup_datetime column"))
    val dropo = df.columns.find(_.toLowerCase.endsWith("dropoff_datetime"))
      .getOrElse(sys.error("no dropoff_datetime column"))
    // ±900 s, same offset on both ends: durations and the q17/R2
    // arithmetic stay realistic; spill across the file-month edge
    // is the reference's own semantics (a January FILE may carry
    // early-February pickups). The jitter is PINNED to a column
    // before either timestamp moves — deriving it inline would
    // feed the second shift a jitter computed from the already-
    // shifted pickup, breaking duration preservation. Copy 0 keeps
    // the raw timestamps byte-for-byte (jitter short-circuits to
    // NULL, and try_add(ts, NULL)'s null result is overridden back
    // to the source value by the outer when).
    val copies = (0 until factor).toArray
    val withCopy = df.withColumn("__copy", explode(typedLit(copies)))
    val jittered = withCopy
      .withColumn("__jit",
        when(col("__copy") =!= 0,
          (pmod(xxhash64(col(pu), col(dropo), col("__copy")), lit(1800L))
            - lit(900L)) * expr("INTERVAL 1 SECOND")))
      .withColumn(pu,
        when(col("__copy") === 0, col(pu))
          .otherwise(try_add(col(pu), col("__jit"))))
      .withColumn(dropo,
        when(col("__copy") === 0, col(dropo))
          .otherwise(try_add(col(dropo), col("__jit"))))
      .drop("__jit", "__copy")
    jittered
  }
}
