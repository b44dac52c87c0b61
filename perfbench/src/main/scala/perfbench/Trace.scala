package perfbench

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.catalog.{ParquetCatalog, TableCatalog}

/** One closed interval of work. `parent` is the span that was current on
  * the submitting thread (the op's root span for threads the program's
  * month pool creates, which inherit Spark's local properties); `op` ties
  * every span of one op together. The Spark counters are self counters:
  * a job counts for the span that was current on the thread that
  * submitted it. */
final class Span(val id: Long, val name: String, val parent: Long, val op: Long,
                 val start: Long) {
  @volatile var end: Long = -1L
  val jobs = new AtomicLong
  val tasks = new AtomicLong
  val shuffleWriteBytes = new AtomicLong
  val shuffleWriteRecords = new AtomicLong
  val spillBytes = new AtomicLong
  val rowsWritten = new AtomicLong
  val cpuNanos = new AtomicLong
  val gcMillis = new AtomicLong
  val schedWaitMillis = new AtomicLong
  val taskFailures = new AtomicLong
}

/** In-memory span recorder plus the [[SparkListener]] that attributes
  * jobs, stages and tasks to spans through a Spark local property. Spans
  * are kept until the run ends and written out once. Tracing is live only
  * between [[begin]] and [[finish]], so untraced ops pay nothing. */
final class Tracer(spark: SparkSession) extends SparkListener {
  private val sc: SparkContext = spark.sparkContext
  private val nextId = new AtomicLong(1)
  private val spans = new ConcurrentHashMap[Long, Span]()
  private val stageSpan = new ConcurrentHashMap[Int, Span]()
  private val stageSubmitted = new ConcurrentHashMap[Int, Long]()
  @volatile private var live = false
  @volatile private var op = 0L

  private val Prop = "perfbench.span"

  /** Start tracing one op: attach the listener and open its root span. */
  def begin(name: String): Span = {
    sc.addSparkListener(this)
    live = true
    val id = nextId.getAndIncrement()
    op = id
    val root = new Span(id, name, 0L, id, System.nanoTime())
    spans.put(id, root)
    sc.setLocalProperty(Prop, id.toString)
    root
  }

  /** Close the op's root span, wait for the listener to see every event
    * of the op, and detach it. */
  def finish(root: Span): Unit = {
    root.end = System.nanoTime()
    sc.setLocalProperty(Prop, null)
    org.apache.spark.PerfbenchAccess.drainListeners(sc)
    live = false
    sc.removeSparkListener(this)
  }

  /** Run `body` inside a span named `name`, a child of whatever span is
    * current on this thread. A no-op wrapper while tracing is off. */
  def span[A](name: String)(body: => A): A =
    if (!live) body
    else {
      val prev = sc.getLocalProperty(Prop)
      val parent = Option(prev).map(_.toLong).getOrElse(op)
      val s = new Span(nextId.getAndIncrement(), name, parent, op, System.nanoTime())
      spans.put(s.id, s)
      sc.setLocalProperty(Prop, s.id.toString)
      try body
      finally {
        s.end = System.nanoTime()
        sc.setLocalProperty(Prop, prev)
      }
    }

  def all: Seq[Span] = spans.values().asScala.toSeq.sortBy(_.id)

  private def spanOf(props: java.util.Properties): Option[Span] =
    Option(props).flatMap(p => Option(p.getProperty(Prop)))
      .flatMap(id => Option(spans.get(id.toLong)))

  override def onJobStart(e: SparkListenerJobStart): Unit =
    spanOf(e.properties).foreach { s =>
      s.jobs.incrementAndGet()
      e.stageInfos.foreach(si => stageSpan.put(si.stageId, s))
    }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = {
    e.stageInfo.submissionTime.foreach(t => stageSubmitted.put(e.stageInfo.stageId, t))
    spanOf(e.properties).foreach(s => stageSpan.put(e.stageInfo.stageId, s))
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
    Option(stageSpan.get(e.stageId)).foreach { s =>
      s.tasks.incrementAndGet()
      if (e.reason != org.apache.spark.Success) s.taskFailures.incrementAndGet()
      Option(stageSubmitted.get(e.stageId)).foreach(sub =>
        s.schedWaitMillis.addAndGet(math.max(0L, e.taskInfo.launchTime - sub)))
      Option(e.taskMetrics).foreach { m =>
        s.shuffleWriteBytes.addAndGet(m.shuffleWriteMetrics.bytesWritten)
        s.shuffleWriteRecords.addAndGet(m.shuffleWriteMetrics.recordsWritten)
        s.spillBytes.addAndGet(m.diskBytesSpilled)
        s.rowsWritten.addAndGet(m.outputMetrics.recordsWritten)
        s.cpuNanos.addAndGet(m.executorCpuTime)
        s.gcMillis.addAndGet(m.jvmGCTime)
      }
    }
}

/** Decorator over the program's [[TableCatalog]] that opens one span per
  * catalog call, named by `layer(table, isWrite)`; the wrapped catalog
  * does the work. Lazy reads make a read span cover listing and schema
  * inference only; a write span covers the plan the write executes. */
final class TimedCatalog(inner: ParquetCatalog, tracer: Option[Tracer],
                         layer: (String, Boolean) => String) extends TableCatalog {
  private def timed[A](table: String, write: Boolean)(body: => A): A =
    tracer.fold(body)(_.span(layer(table, write))(body))

  override def read(spark: SparkSession, table: String): DataFrame =
    timed(table, write = false)(inner.read(spark, table))
  override def exists(spark: SparkSession, table: String): Boolean =
    timed(table, write = false)(inner.exists(spark, table))
  override def append(df: DataFrame, table: String, partitionBy: Seq[String]): Unit =
    timed(table, write = true)(inner.append(df, table, partitionBy))
  override def overwrite(df: DataFrame, table: String, partitionBy: Seq[String]): Unit =
    timed(table, write = true)(inner.overwrite(df, table, partitionBy))
  override def replacePartitions(df: DataFrame, table: String,
                                 partitionBy: Seq[String]): Unit =
    timed(table, write = true)(inner.replacePartitions(df, table, partitionBy))
  override def supportsPartitionReplace: Boolean = inner.supportsPartitionReplace
  override def drop(spark: SparkSession, table: String): Unit =
    timed(table, write = true)(inner.drop(spark, table))
}

object Layers {
  /** The medallion layer a catalog call of the NYC pipeline belongs to;
    * gold and platinum spans carry the target table. */
  def nyc(table: String, write: Boolean): String =
    if (!write) "catalog.read"
    else if (table.startsWith("bronze_")) "nyc.bronze"
    else if (table == "silver_trips") "nyc.silver"
    else if (table.startsWith("dim_")) s"nyc.gold.dims.$table"
    else if (table.startsWith("fact_nyc_watermark")) s"nyc.gold.watermark.$table"
    else if (table.startsWith("fact_nyc")) s"nyc.gold.fact.$table"
    else if (table.startsWith("report_")) s"nyc.platinum.$table"
    else s"catalog.write.$table"

  /** Ingest-loop catalog calls: the corpus table versus every other piece
    * of standing state (bloom, prefix index, components, staging, markers). */
  def ingest(corpusTable: String)(table: String, write: Boolean): String =
    if (!write) "catalog.read"
    else if (table == corpusTable) "catalog.write.corpus"
    else "catalog.write.state"
}

/** Per-op span summary in the shape run.py reports: for each span name,
  * self time (each instant of the op split evenly between the innermost
  * spans open at that instant, so self times add up to the root span even
  * when the month pool overlaps spans) and the self counters. */
object SpanSummary {
  def selfNanos(spans: Seq[Span]): Map[Long, Double] = {
    val byId = spans.map(s => s.id -> s).toMap
    val out = mutable.Map[Long, Double]().withDefaultValue(0.0)
    spans.groupBy(_.op).foreach { case (_, opSpans) =>
      val events = opSpans.flatMap(s => Seq((s.start, 1, s.id), (s.end, -1, s.id)))
        .sortBy(e => (e._1, e._2))
      val open = mutable.Set[Long]()
      var last = events.headOption.map(_._1).getOrElse(0L)
      events.foreach { case (t, kind, id) =>
        if (t > last && open.nonEmpty) {
          val openParents = open.iterator.map(byId(_).parent).toSet
          val innermost = open.filterNot(openParents.contains)
          val share = (t - last).toDouble / innermost.size
          innermost.foreach(i => out(i) += share)
        }
        last = t
        if (kind == 1) open += id else open -= id
      }
    }
    out.toMap
  }
}
