package graft

import scala.jdk.CollectionConverters._
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.joins.{BaseJoinExec, BroadcastHashJoinExec}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.util.QueryExecutionListener
import graft.catalog.ParquetCatalog
import graft.dedup.Dedup

/** The exact pair engines' prefix-index broadcast has one gate, the
  * `graft.exact.broadcastIndexMaxBytes` cap. Forced to 1 byte, the
  * partitioned fallback runs — no broadcast on the index side of the
  * candidate join — and every engine returns the same pairs as under
  * the default cap, where the index is broadcast. */
class BroadcastCapSpec extends SparkTestBase with AdaptiveSparkPlanHelper {
  import spark.implicits._

  private val CapKey = "graft.exact.broadcastIndexMaxBytes"
  private val Sentinel = "broadcast_cap_sentinel"

  private def sets(df: DataFrame) =
    df.select(col("doc_id"), Dedup.charNgrams(col("text"), 5).as("set"))
  private def docs = Tables.documents(spark, sf)
  private def corpus = sets(docs.filter(col("doc_id") % 10 =!= 0))
  private def batch = sets(docs.filter(col("doc_id") % 10 === 0))

  private def asSet(df: DataFrame): Set[(Long, Long, Double)] =
    df.select("id_a", "id_b", "jaccard")
      .as[(Long, Long, Double)].collect().toSet

  /** `body`'s value and the executed plans of every action it ran. */
  private def withPlans[T](body: => T): (T, Seq[SparkPlan]) = {
    val plans = new java.util.concurrent.ConcurrentLinkedQueue[SparkPlan]()
    val drained = new java.util.concurrent.CountDownLatch(1)
    val listener = new QueryExecutionListener {
      override def onSuccess(funcName: String, qe: QueryExecution,
                             durationNs: Long): Unit =
        if (qe.analyzed.output.exists(_.name == Sentinel)) drained.countDown()
        else plans.add(qe.executedPlan)
      override def onFailure(funcName: String, qe: QueryExecution,
                             exception: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    try {
      val out = body
      // the listener bus delivers in order: once the sentinel action's
      // event arrives, every action `body` ran has been seen
      spark.range(1).toDF(Sentinel).collect()
      assert(drained.await(60, java.util.concurrent.TimeUnit.SECONDS))
      (out, plans.asScala.toSeq)
    } finally spark.listenerManager.unregister(listener)
  }

  /** The prefix candidate joins: the only joins whose output carries
    * the index side's rank column. */
  private def candidateJoins(plans: Seq[SparkPlan]): Seq[SparkPlan] =
    plans.flatMap(p => collect(p) {
      case j: BaseJoinExec if j.output.exists(_.name == "rn_b") => j
    })

  /** Run every engine under `cap`: pairs, and the candidate joins. */
  private def underCap(cap: String, cat: ParquetCatalog)
      : (Seq[Set[(Long, Long, Double)]], Seq[SparkPlan]) = {
    spark.conf.set(CapKey, cap)
    try {
      val (pairs, plans) = withPlans(Seq(
        asSet(Dedup.exactSimilarityPairs(corpus, "doc_id", 0.4)),
        asSet(Dedup.incrementalSimilarityPairs(corpus, batch, "doc_id", 0.4)),
        asSet(Dedup.incrementalPairsFromCatalog(corpus, batch, "doc_id",
          cat, "pfx"))))
      (pairs, candidateJoins(plans))
    } finally spark.conf.unset(CapKey)
  }

  test("a 1-byte index cap runs the partitioned fallback with identical pairs") {
    val cat = new ParquetCatalog(
      java.nio.file.Files.createTempDirectory("graft-bcap").toString)
    // Spark's own size-based broadcast is off, so any broadcast on the
    // index side can only come from the gate's hint
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      Dedup.buildPrefixIndex(corpus, "doc_id", 0.4, cat, "pfx")
      val (capped, cappedJoins) = underCap("1", cat)
      val (default, defaultJoins) =
        underCap(Dedup.IndexSizing.cap(spark).toString, cat)
      assert(capped == default)
      assert(default.forall(_.nonEmpty))
      // three engines, one candidate join each
      assert(cappedJoins.size >= 3 && defaultJoins.size >= 3,
        s"capped ${cappedJoins.size}, default ${defaultJoins.size}")
      assert(!cappedJoins.exists(_.isInstanceOf[BroadcastHashJoinExec]),
        cappedJoins.mkString("\n"))
      assert(defaultJoins.forall(_.isInstanceOf[BroadcastHashJoinExec]),
        defaultJoins.mkString("\n"))
    } finally {
      spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
      Sessions.deleteTree(java.nio.file.Paths.get(cat.root))
    }
  }
}
