package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.queries._

/** Driver contract: every query family's [[QuerySpec]]s, served as the
  * name-keyed query and oracle maps the driver reads. */
object SparkEntry {
  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    queries("q09_monthly_report")(spark, "/root/testdata/sf0.001")

  /** Every declared query, family by family. */
  private[graft] def specs: Seq[QuerySpec] =
    EtlQueries.specs ++ TextQueries.specs ++ RetrievalQueries.specs ++
      DedupQueries.specs ++ SimQueries.specs ++ OpsQueries.specs ++
      StatsQueries.specs

  def queries: Map[String, (SparkSession, String) => DataFrame] =
    specs.map(q => q.name -> q.build).toMap

  def oracleSql: Map[String, String] =
    specs.map(q => q.name -> q.oracle()).toMap
}
