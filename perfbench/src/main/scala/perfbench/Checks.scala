package perfbench

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.JsonNode
import org.apache.hadoop.fs.{FileSystem, Path => HPath}
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.catalog.TableCatalog

/** Output checks. Every expectation comes from the generator's
  * `expected.json`, so the checks hold for any seed. */
object Checks {
  def describe(e: Throwable): String = {
    val chain = Iterator.iterate(e)(_.getCause).takeWhile(_ != null).toSeq
    chain.map(c => s"${c.getClass.getSimpleName}: ${c.getMessage}")
      .mkString(" <- ").replaceAll("\\s+", " ").take(600)
  }

  def same[A](what: String, got: A, want: A): Either[String, Unit] =
    if (got == want) Right(()) else Left(s"$what: got $got, expected $want")

  def all(results: Either[String, Unit]*): Either[String, Unit] =
    results.find(_.isLeft).getOrElse(Right(()))

  /** Order-independent content hash: the exact sum and the count of
    * per-row hashes. */
  def contentHash(df: DataFrame): String = {
    val r = df.select(xxhash64(df.columns.map(col): _*).cast("decimal(38,0)").as("h"))
      .agg(sum(col("h")), count(lit(1))).head()
    s"${r.get(0)}/${r.getLong(1)}"
  }

  /** Distinct physical column types among a table's parquet part files
    * (nullability aside: Spark reads required and optional alike). */
  def partSchemas(spark: SparkSession, tableDir: String): Set[String] = {
    val conf = spark.sparkContext.hadoopConfiguration
    val files = new HPath(tableDir).getFileSystem(conf).listFiles(new HPath(tableDir), true)
    Iterator.continually(files).takeWhile(_.hasNext).map(_.next().getPath)
      .filter(p => p.getName.endsWith(".parquet") && !p.toString.contains("/_") &&
        !p.getName.startsWith("."))
      .map { p =>
        val r = ParquetFileReader.open(HadoopInputFile.fromPath(p, conf))
        try r.getFooter.getFileMetaData.getSchema.toString
          .replaceAll("\\b(required|optional) ", "").replaceAll("\\s+", " ")
        finally r.close()
      }.toSet
  }

  def tables(spark: SparkSession, root: String): Seq[String] = {
    val p = new HPath(root)
    val fs: FileSystem = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(p)) Nil
    else fs.listStatus(p).filter(_.isDirectory).map(_.getPath.getName)
      .filterNot(n => n.startsWith("_") || n.startsWith(".")).sorted.toSeq
  }

  // ---------------------------------------------------------------- nyc

  private def martTotals(cat: TableCatalog, spark: SparkSession, t: String): (Long, Long) = {
    val r = cat.read(spark, t)
      .agg(sum(col("total_rows")), sum(round(col("sum_total_amount") * 100).cast("long")))
      .head()
    (r.getLong(0), r.getLong(1))
  }

  /** A dimension reads back in full: every column of every part file is
    * decoded (a bare count would answer from footers and never touch the
    * key column). */
  def dimRows(cat: TableCatalog, spark: SparkSession, t: String): Long =
    cat.read(spark, t).collect().length.toLong

  /** The NYC warehouse after a backfill or a tick: per-layer row counts,
    * mart trip totals and exact-cent sums, every dimension read back, and
    * one physical schema per table. `want` holds `fact_nyc`,
    * `fact_nyc_cents` and `dims`; `layers` adds bronze/silver counts. */
  def nycWarehouse(run: Run, op: Int, cat: TableCatalog, root: String, want: JsonNode,
                   layers: Seq[(String, Long)]): Unit = {
    val spark = run.spark
    layers.foreach { case (t, n) =>
      run.check(op, s"rows.$t")(same(t, cat.read(spark, t).count(), n))
    }
    val fact = want.get("fact_nyc").asLong
    val cents = want.get("fact_nyc_cents").asLong
    run.check(op, "rows.fact_nyc")(same("fact_nyc", cat.read(spark, "fact_nyc").count(), fact))
    Seq("report_monthly", "report_weekly").foreach { t =>
      run.check(op, s"mart.$t") {
        val (trips, c) = martTotals(cat, spark, t)
        all(same(s"$t total_rows", trips, fact), same(s"$t cents", c, cents))
      }
    }
    want.get("dims").fields().asScala.foreach { e =>
      run.check(op, s"dim.${e.getKey}")(same(e.getKey, dimRows(cat, spark, e.getKey), e.getValue.asLong))
    }
    // part files that disagree on a column's type make the table's reads
    // depend on listing order, so the disagreement counts as a read failure
    tables(spark, root).foreach { t =>
      run.check(op, s"schema.$t") {
        val s = partSchemas(spark, s"$root/$t")
        if (s.size > 1) throw new IllegalStateException(
          s"$t part files disagree on column types: ${s.mkString(" | ")}")
        Right(())
      }
    }
  }

  // ------------------------------------------------------------- corpus

  private def pairs(out: DataFrame, a: String, b: String): Set[(Long, Long)] =
    out.select(a, b).collect().map(r => (r.getLong(0), r.getLong(1))).toSet

  private def ids(out: DataFrame, c: String): Set[Long] =
    out.select(c).collect().map(_.getLong(0)).toSet

  private def pairList(want: JsonNode, key: String): Seq[(Long, Long)] =
    want.get(key).elements().asScala.map(p => (p.get(0).asLong, p.get(1).asLong)).toSeq

  private def idList(want: JsonNode, key: String): Set[Long] =
    want.get(key).elements().asScala.map(_.asLong).toSet

  private def none[A](what: String, bad: Iterable[A]): Either[String, Unit] =
    if (bad.isEmpty) Right(()) else Left(s"$what: ${bad.size}, e.g. ${bad.take(3).mkString(", ")}")

  /** Each dedup query's output, bounded from both sides by the
    * generator's brute-force ground truth and planted structure:
    *  - q20 reports only pairs whose shingle Jaccard is at least 0.3, with
    *    that exact Jaccard, and finds every identical-text pair;
    *  - q207 (exact gate) is exactly the pairs with ids below 50 that are
    *    at least 4/5 contained;
    *  - q208 reports only pairs at least 3/5 contained and finds every
    *    planted excerpt in its host;
    *  - q209 keeps every document not 3/5-contained in a larger one, and
    *    drops each excerpt and the larger id of each identical pair;
    *  - q58 keeps every vector without a smaller-id neighbour near the
    *    cosine threshold and drops the larger id of each identical twin;
    *  - q92 lists at most five ranked neighbours per vector, never itself,
    *    each with its true cosine, best first, and finds each twin at rank 1. */
  def corpusQuery(name: String, out: DataFrame, want: JsonNode,
                  vectors: => Map[Long, Array[Double]]): Either[String, Unit] = {
    val excerpts = pairList(want, "excerpts")
    val dups = pairList(want, "duplicates")
    val twins = pairList(want, "twins")
    name match {
      case "q20_minhash_pairs" =>
        val truth = want.get("q20_pairs").elements().asScala
          .map(p => (p.get(0).asLong, p.get(1).asLong) -> p.get(2).asDouble).toMap
        val rows = out.select("id_a", "id_b", "jaccard").collect()
          .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2))
        val got = rows.toMap
        all(none("pairs below the Jaccard threshold", got.keySet -- truth.keySet),
          none("wrong Jaccard", got.filter { case (p, j) => truth.get(p).exists(t => math.abs(t - j) > 1e-12) }),
          none("repeated pairs", rows.map(_._1).diff(got.keySet.toSeq)),
          none("planted identical pairs missing", dups.filterNot(got.contains)))
      case "q207_containment" =>
        val got = pairs(out, "inner_id", "outer_id")
        val truth = pairList(want, "q207_pairs").toSet
        all(none("pairs not 4/5-contained", got -- truth), none("contained pairs missing", truth -- got))
      case "q208_containment_corpus" =>
        val got = pairs(out, "inner_id", "outer_id")
        all(none("pairs not 3/5-contained", got -- pairList(want, "q208_pairs")),
          none("planted excerpts missing", excerpts.filterNot(got.contains)))
      case "q209_excerpt_scrub" =>
        val kept = ids(out, "doc_id")
        all(none("uncontained documents dropped", idList(want, "q209_keep") -- kept),
          none("contained documents kept", (excerpts.map(_._1) ++ dups.map(_._2)).filter(kept)),
          none("unknown ids", kept.filter(i => i < 0 || i >= want.get("documents").asLong)))
      case "q58_semantic_dedup" =>
        val kept = ids(out, "vec_id")
        all(none("vectors without a near neighbour dropped", idList(want, "q58_keep") -- kept),
          none("duplicate twins kept", twins.map(_._2).filter(kept)),
          none("unknown ids", kept.filter(i => i < 0 || i >= want.get("embeddings").asLong)))
      case "q92_knn_graph_lsh" =>
        val rows = out.select("qid", "vec_id", "sim", "rank").collect()
          .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3)))
        val byQuery = rows.groupBy(_._1)
        val vecs = vectors
        def cosine(a: Long, b: Long) = {
          val (x, y) = (vecs(a), vecs(b))
          x.indices.map(i => x(i) * y(i)).sum /
            math.sqrt(x.map(v => v * v).sum * y.map(v => v * v).sum)
        }
        all(none("self neighbours", rows.filter(r => r._1 == r._2)),
          none("bad rank lists", byQuery.filter { case (_, rs) =>
            val sorted = rs.sortBy(_._4)
            rs.length > 5 || sorted.map(_._4).toSeq != (1 to rs.length) ||
              sorted.sliding(2).exists(p => p.length == 2 && p(0)._3 < p(1)._3)
          }.keys),
          none("wrong similarities", rows.filter(r => math.abs(cosine(r._1, r._2) - r._3) > 1e-4)),
          none("twins not each other's nearest", twins.flatMap { case (a, b) => Seq(a -> b, b -> a) }
            .filterNot { case (a, b) => rows.exists(r => r._1 == a && r._2 == b && r._4 == 1) }))
    }
  }

  /** The embeddings as double vectors by id, for checking q92's cosines. */
  def vectors(spark: SparkSession, corpusDir: String): Map[Long, Array[Double]] =
    spark.read.parquet(s"$corpusDir/embeddings.parquet").select("vec_id", "embedding").collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).map(_.toDouble).toArray).toMap
}
