package graft.etl

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Gold-layer star-schema operators: incremental dimension upsert,
  * watermark-incremental fact append, dimension-join fact build.
  *
  * The reference implements "new-key detection" as a right outer join
  * followed by an isNull filter (reference: gold.py:93-94,153-154,
  * 211-213); the idiomatic, plan-clean equivalent is LEFT ANTI, which
  * Catalyst turns into a broadcast anti join when the dim is small —
  * no outer-join row explosion at scale. The incremental fact load is
  * the reference's batch watermark: scalar max over the loaded fact,
  * then a pushed-down filter on the source (gold.py:56-65,278).
  */
object Star {
  /** J3: keys present in `fresh` but absent from `dim` (left anti). */
  def newKeys(fresh: DataFrame, dim: DataFrame, key: String): DataFrame =
    fresh.select(key).distinct().join(dim, Seq(key), "left_anti")

  /** J3 + F7 + P5: full dim upsert step — detect new keys, label them
    * with a default name (reference fills 'Unknown ...', gold.py:101,
    * 160,218), drop the sentinel key (gold.py:104,163,220), and return
    * rows to append. The key is cast to the dim's own key type: an
    * appended part file whose key type differs from the table's makes
    * every later read depend on which file the schema is taken from. */
  def dimUpsert(fresh: DataFrame, dim: DataFrame, key: String,
                nameCol: String, defaultName: Column,
                sentinel: Option[Column] = None): DataFrame = {
    val novel = newKeys(fresh, dim.select(key), key)
      .withColumn(key, col(key).cast(dim.schema(key).dataType))
    val labeled = novel.withColumn(nameCol, defaultName)
    sentinel.fold(labeled)(s => labeled.filter(col(key) =!= s))
  }

  /** A1: scalar watermark — max of a timestamp column, None when empty
    * (reference cold-start default 2000-01-01, gold.py:59-60). Returned
    * untyped because the column may be TIMESTAMP or TIMESTAMP_NTZ
    * (Spark surfaces LocalDateTime for the latter); `lit` handles both. */
  def watermark(loaded: DataFrame, tsCol: String): Option[Any] = {
    val row = loaded.agg(max(col(tsCol))).head()
    if (row.isNullAt(0)) None else Some(row.get(0))
  }

  /** P6: incremental filter — only rows newer than the watermark. The
    * predicate is a plain comparison so it pushes down to the scan. */
  def newerThan(src: DataFrame, tsCol: String, wm: Option[Any]): DataFrame =
    wm.fold(src)(t => src.filter(col(tsCol) > lit(t)))

  /** J2: join a fact timestamp to the calendar dim on the composite
    * (day, month, year) the reference derives (gold.py:280-295), then
    * surface the surrogate key under `outKey`. The dim is broadcast —
    * it is bounded by calendar length. */
  def joinDateDim(fact: DataFrame, dim: DataFrame, tsCol: String,
                  outKey: String): DataFrame =
    fact
      .withColumn("__d", dayofmonth(col(tsCol)))
      .withColumn("__m", month(col(tsCol)))
      .withColumn("__y", year(col(tsCol)))
      .join(broadcast(dim.select(col("dateID"), col("day"), col("month"), col("year"))),
        col("__d") === col("day") && col("__m") === col("month") &&
          col("__y") === col("year"),
        "inner")
      .drop("__d", "__m", "__y", "day", "month", "year")
      .withColumnRenamed("dateID", outKey)

  /** J4/J6: equi-join a small dimension with an explicit broadcast hint
    * (reference relies on auto-broadcast; we pin it). */
  def joinDim(fact: DataFrame, dim: DataFrame, keys: Seq[String]): DataFrame =
    fact.join(broadcast(dim), keys, "inner")

  /** SCD-1 merge: `updates` rows win over `existing` rows with the same
    * key; unseen keys are inserted. The reference's "upsert" never
    * updates (insert-new-keys only, gold.py:93-106) — this is the
    * natural extension for mutable dimensions. One anti-join + union;
    * for parquet-backed dims the caller overwrites the table with the
    * result (a Delta/Iceberg catalog would do a real MERGE here). */
  def scdMerge(existing: DataFrame, updates: DataFrame, key: String): DataFrame =
    existing.join(updates.select(key), Seq(key), "left_anti")
      .unionByName(updates)
}
