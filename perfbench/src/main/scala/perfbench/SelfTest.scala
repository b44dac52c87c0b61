package perfbench

import java.nio.file.{Path, Paths}

import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.SparkEntry
import graft.catalog.ParquetCatalog
import graft.nyc.NycPipeline

/** The checks, checked: run the NYC backfill and the dedup queries once on
  * generated inputs, check the clean outputs, then plant one corruption at
  * a time and check again. Writes `{scenario: [check...]}` as JSON;
  * `test_perfbench.py` asserts which checks must pass and which must fail.
  *
  * `--data <dir with nyc/ and corpus/> --work <dir> --out <json>
  *  --corrupt 0|1` */
object SelfTest {
  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val work = Paths.get(opts("work"))
    val spark = Main.session("selftest", work)
    val corrupt = opts("corrupt") == "1"
    val out = new ObjectMapper().createObjectNode()
    try {
      def scenario(name: String)(body: Run => Unit): Unit = {
        val run = new Run(spark, 0L, 0.0, traceMode = false, Paths.get(opts("data")), work)
        body(run)
        val arr = out.putArray(name)
        run.checks.foreach { c =>
          val n = arr.addObject()
          n.put("name", c.name); n.put("ok", c.ok); n.put("error", c.error); n.put("detail", c.detail)
        }
      }
      nyc(work, corrupt, scenario)
      corpus(corrupt, scenario)
      new ObjectMapper().writerWithDefaultPrettyPrinter()
        .writeValue(Paths.get(opts("out")).toFile, out)
    } finally spark.stop()
  }

  private type Scenario = String => (Run => Unit) => Unit

  private def nyc(work: Path, corrupt: Boolean, scenario: Scenario): Unit = {
    val dir = work.resolve("nyc").toString
    val cat = new ParquetCatalog(dir)
    var layers: Seq[(String, Long)] = Nil
    scenario("nyc_clean") { run =>
      val want = run.expected("nyc")
      val nycIn = run.data.resolve("nyc")
      NycPipeline.runYear(run.spark, NycPipeline.Config(nycIn.resolve("green").toString, cat,
        yellowDir = Some(nycIn.resolve("yellow").toString)))
      layers = Seq("bronze_green", "bronze_yellow", "silver_trips").map(t => t -> want.get(t).asLong)
      Checks.nycWarehouse(run, 0, cat, dir, want, layers)
    }
    if (corrupt) {
      scenario("nyc_mart_row_dropped") { run =>
        val spark = run.spark
        val mart = cat.read(spark, "report_monthly")
        cat.overwrite(mart.limit(mart.count().toInt - 1), "report_monthly_copy")
        cat.overwrite(cat.read(spark, "report_monthly_copy"), "report_monthly")
        cat.drop(spark, "report_monthly_copy")
        Checks.nycWarehouse(run, 0, cat, dir, run.expected("nyc"), layers)
      }
      scenario("nyc_dim_key_type") { run =>
        val spark = run.spark
        import spark.implicits._
        cat.append(Seq((3L, "Corrupt")).toDF("typeID", "typeName"), "dim_type")
        Checks.nycWarehouse(run, 0, cat, dir, run.expected("nyc"), layers)
      }
    }
  }

  private def corpus(corrupt: Boolean, scenario: Scenario): Unit = {
    var outputs = Map.empty[String, DataFrame]
    def check(run: Run, q: String, out: DataFrame): Unit = {
      val dir = run.data.resolve("corpus").toString
      run.check(0, s"query.$q")(Checks.corpusQuery(q, out, run.expected("corpus"),
        Checks.vectors(run.spark, dir)))
    }
    scenario("corpus_clean") { run =>
      val dir = run.data.resolve("corpus").toString
      outputs = Workloads.dedupQueries.map(q =>
        q -> SparkEntry.queries(q)(run.spark, dir).localCheckpoint(true)).toMap
      outputs.foreach { case (q, df) => check(run, q, df) }
    }
    if (corrupt) {
      // one side of each bound: a planted pair or survivor goes missing
      scenario("corpus_missing") { run =>
        val ex = run.expected("corpus").get("excerpts").get(0)
        val (inner, outer) = (ex.get(0).asLong, ex.get(1).asLong)
        check(run, "q208_containment_corpus", outputs("q208_containment_corpus")
          .filter(!(col("inner_id") === inner && col("outer_id") === outer)))
        check(run, "q209_excerpt_scrub", outputs("q209_excerpt_scrub").limit(0))
        check(run, "q58_semantic_dedup", outputs("q58_semantic_dedup").limit(0))
      }
      // the other side: output beyond what the ground truth allows
      scenario("corpus_extra") { run =>
        val ex = run.expected("corpus").get("excerpts").get(0)
        val inner = ex.get(0).asLong
        check(run, "q209_excerpt_scrub", outputs("q209_excerpt_scrub")
          .unionByName(run.spark.range(inner, inner + 1).toDF("doc_id")))
        val allPairs = run.spark.range(50).toDF("id_a")
          .crossJoin(run.spark.range(50).toDF("id_b")).filter(col("id_a") < col("id_b"))
          .withColumn("jaccard", lit(0.5))
        check(run, "q20_minhash_pairs",
          outputs("q20_minhash_pairs").select("id_a", "id_b", "jaccard").unionByName(allPairs))
        check(run, "q207_containment", outputs("q207_containment").select("inner_id", "outer_id")
          .unionByName(allPairs.select(col("id_a").as("inner_id"), col("id_b").as("outer_id"))))
      }
    }
  }
}
