package graft

import org.apache.spark.sql.functions.{lit, raise_error}
import graft.queries.Builds

/** Build-once artifacts are served only when complete: a build that
  * dies midway leaves the artifact unmarked, and the next call
  * rebuilds it instead of serving the half-written tables. */
class ArtifactMemoSpec extends SparkTestBase {

  /** The state a rebuild leaves when its overwrite of `table` dies:
    * the READY marker dropped before the build, the table dir emptied
    * by the overwrite but still there. */
  private def dieMidOverwrite(cat: graft.catalog.ParquetCatalog,
                              artifact: String, table: String): Unit = {
    new java.io.File(cat.root, s"${artifact}_READY").delete()
    intercept[Exception](cat.overwrite(
      spark.range(1).select(raise_error(lit("crash")).cast("long").as("id")),
      table))
    assert(new java.io.File(cat.root, table).isDirectory)
  }

  test("a table dir left empty by a failed overwrite is rebuilt, not served") {
    // a cutoff no query uses, so no other suite reads this graph
    val (cat, table) = Builds.pairGraphTable(spark, sf, threshold = 0.45)
    val built = cat.read(spark, table).orderBy("id_a", "id_b").collect().toSeq
    assert(built.nonEmpty)
    dieMidOverwrite(cat, table, table)
    val (cat2, table2) = Builds.pairGraphTable(spark, sf, threshold = 0.45)
    assert(cat2.read(spark, table2).orderBy("id_a", "id_b").collect().toSeq == built)
  }

  test("a prefix index whose __meta write died is rebuilt") {
    val (cat, table) = Builds.prefixIndexTable(spark, sf)
    val rows = cat.read(spark, table).count()
    dieMidOverwrite(cat, table, s"${table}__meta")
    val (cat2, table2) = Builds.prefixIndexTable(spark, sf)
    assert(cat2.read(spark, s"${table2}__meta").collect()
      .map(_.getAs[Double]("threshold")).toSeq == Seq(0.4))
    assert(cat2.read(spark, table2).count() == rows)
  }

  test("a forced rebuild that throws leaves no READY marker behind") {
    var builds = 0
    def memo(force: Boolean)(build: => Unit): Unit =
      Artifacts.memo("memo_probe", force) { builds += 1; build }
    memo(force = false)(())
    memo(force = false)(()) // marked: no rebuild
    assert(builds == 1)
    intercept[IllegalStateException](memo(force = true)(throw new IllegalStateException("crash")))
    memo(force = false)(()) // the crash left the artifact unmarked: rebuilt
    assert(builds == 3)
  }

  test("q171 rebuilds its bucketed tables when one of them is missing") {
    def q171() = SparkEntry.queries("q171_bucketed_join")(spark, sf)
      .orderBy("c_mktsegment").collect().toSeq
    val expected = q171()
    val (_, customer) = Builds.bucketedTables(spark, sf)
    spark.sql(s"DROP TABLE $customer") // external: its files stay
    assert(q171() == expected)
  }
}
