package graft.sources

import org.apache.hadoop.fs.Path
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.datasources.parquet.ParquetToSparkSchemaConverter
import org.apache.spark.sql.types.StructType

/** File-format sources beyond parquet (reference S5: the taxi-zone CSV
  * with header + quoted fields, raw.py:85-87 / create_datamart.sql:
  * 142-147). Explicit schema preferred — schema inference is a full
  * extra pass over the data, unacceptable at scale. */
object Sources {
  /** Header+quoted CSV (the reference's zone-lookup shape). */
  def readCsv(spark: SparkSession, path: String,
              schema: Option[StructType] = None): DataFrame = {
    val r = spark.read
      .option("header", "true")
      .option("quote", "\"")
      .option("escape", "\"")
    schema.fold(r.option("inferSchema", "true"))(s => r.schema(s)).csv(path)
  }

  def writeCsv(df: DataFrame, path: String): Unit =
    df.write.mode("overwrite").option("header", "true")
      .option("quote", "\"").option("escape", "\"").csv(path)

  /** JSON-lines source (events `props` style payloads). */
  def readJson(spark: SparkSession, path: String,
               schema: Option[StructType] = None): DataFrame = {
    val r = spark.read
    schema.fold(r)(s => r.schema(s)).json(path)
  }

  /** JSON-lines sink — the interchange format LLM data pipelines live
    * on (one document object per line, splittable, appendable). JSONL
    * drops null fields by default on write; reading back with the
    * writer's schema restores them as nulls, so a write→read
    * round-trip is lossless for JSON-representable types (the q72
    * oracle hash-verifies this on the documents table). */
  def writeJson(df: DataFrame, path: String): Unit =
    df.write.mode("overwrite").json(path)

  /** ORC source — the OTHER columnar warehouse format (Hive-native
    * shops hand training pipelines ORC, not parquet). Spark's reader
    * carries the same pushdown/pruning machinery as parquet: explicit
    * schema optional because ORC files embed theirs. */
  def readOrc(spark: SparkSession, path: String): DataFrame =
    spark.read.orc(path)

  /** ORC sink (schema + nulls + timestamps survive a write→read
    * round trip bit-exactly; q167's oracle hash-gates this on the
    * documents table the same way q72 gates JSONL). */
  def writeOrc(df: DataFrame, path: String): Unit =
    df.write.mode("overwrite").orc(path)

  /** Schema-evolution read: union parquet epochs written under
    * DIFFERENT schemas (columns added over a corpus's life) into one
    * frame — `mergeSchema` reconciles by column name, old epochs carry
    * NULL for columns they predate. The footer merge costs one
    * metadata pass over the listed paths; row reads stay columnar and
    * pruned. Type CHANGES (not additions) are refused by Spark — the
    * loud failure a silent cast would hide. */
  def readParquetMerged(spark: SparkSession, paths: Seq[String]): DataFrame =
    spark.read.option("mergeSchema", "true").parquet(paths: _*)

  /** One parquet file, or a directory one writer filled, read with the
    * schema of its footer (a directory's first visible part file) as
    * Spark's own converter reads it under the session's SQL conf, top-
    * level columns nullable like any file source's: the schema
    * `spark.read.parquet` infers, without the job it runs to infer it. */
  def readParquet(spark: SparkSession, path: String): DataFrame = {
    val conf = spark.sessionState.newHadoopConf()
    val p = new Path(path)
    val fs = p.getFileSystem(conf)
    val file = if (!fs.getFileStatus(p).isDirectory) p
      else fs.listStatus(p).map(_.getPath).filterNot(f => "_.".contains(f.getName.head)).minBy(_.getName)
    val reader = ParquetFileReader.open(HadoopInputFile.fromPath(file, conf))
    val footer = try reader.getFooter.getFileMetaData.getSchema finally reader.close()
    val schema = new ParquetToSparkSchemaConverter(spark.sessionState.conf).convert(footer)
    spark.read.schema(StructType(schema.fields.map(_.copy(nullable = true)))).parquet(path)
  }
}
