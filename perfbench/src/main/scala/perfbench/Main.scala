package perfbench

import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable.ArrayBuffer
import scala.util.control.NonFatal

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import com.fasterxml.jackson.databind.node.ObjectNode
import org.apache.spark.sql.SparkSession

/** One op of the closed loop (one client; the next op starts when the
  * previous one returned). Ops group into cycles, the unit the workload
  * repeats (a backfill; a pass over the queries with an ingest tick and
  * its quiescent re-ingest); untimed ops are the checked warm-up. `rows` is the new input
  * rows the op consumed. */
final case class Op(id: Int, kind: String, cycle: Int, timed: Boolean, traced: Boolean,
                    wall: Double, rows: Long, error: Option[String])

/** One output check. `error` marks a check that could not read the output
  * (the read raised); otherwise `ok = false` means a wrong value. */
final case class Check(op: Int, name: String, ok: Boolean, error: Boolean, detail: String)

/** State shared by a workload run: the session, the clock, the op and
  * check records, and the tracer for traced ops. */
final class Run(val spark: SparkSession, val seed: Long, val seconds: Double,
                val traceMode: Boolean, val data: Path, val work: Path) {
  val ops = ArrayBuffer[Op]()
  val checks = ArrayBuffer[Check]()
  val setupParts = ArrayBuffer[(String, Double)]()
  val tracer: Option[Tracer] = if (traceMode) Some(new Tracer(spark)) else None
  private var timedSoFar = 0.0
  private var cycles = -1
  private var timedCycles = 0

  /** Start the next cycle. Tracing is live on every second timed cycle of
    * a traced run, so the same run also times untraced cycles for
    * `trace.overhead`. */
  def cycle(timed: Boolean = true): Unit = {
    cycles += 1
    if (timed) timedCycles += 1
  }
  def traced: Boolean = traceMode && timedCycles % 2 == 0
  def tracedCycles: Int = ops.filter(_.traced).map(_.cycle).distinct.size

  /** Whether the timed phase goes on: until `seconds` of timed ops. A
    * traced run times at least three cycles, untraced, traced, untraced,
    * so `trace.overhead` compares the traced cycle with neighbours on both
    * sides of the JIT's warm-up trend. */
  def more(): Boolean = timedSoFar < seconds || timedCycles < (if (traceMode) 3 else 1)

  def expected(set: String): JsonNode =
    new ObjectMapper().readTree(data.resolve(set).resolve("expected.json").toFile)

  def timeSetup[A](part: String)(body: => A): A = {
    val t0 = System.nanoTime()
    try body finally setupParts += part -> (System.nanoTime() - t0) / 1e9
  }

  /** Run one op, timed; a raised exception marks it failed and is kept. */
  def op(kind: String, rows: Long, timed: Boolean = true)(body: => Unit): Op = {
    val traced = timed && this.traced
    val root = if (traced) tracer.map(_.begin(kind)) else None
    val t0 = System.nanoTime()
    val err =
      try { body; None }
      catch { case NonFatal(e) => Some(Checks.describe(e)) }
    val wall = (System.nanoTime() - t0) / 1e9
    root.foreach(r => tracer.get.finish(r))
    if (timed) timedSoFar += wall
    val o = Op(ops.size, kind, cycles, timed, traced, wall, rows, err)
    ops += o
    err.foreach(e => System.err.println(s"[perfbench] op ${o.id} $kind failed: $e"))
    o
  }

  def check(op: Int, name: String)(body: => Either[String, Unit]): Unit = {
    val c =
      try body match {
        case Right(()) => Check(op, name, ok = true, error = false, "")
        case Left(why) => Check(op, name, ok = false, error = false, why)
      } catch { case NonFatal(e) => Check(op, name, ok = false, error = true, Checks.describe(e)) }
    if (!c.ok)
      System.err.println(s"[perfbench] check ${c.name} on op ${c.op} " +
        s"${if (c.error) "raised" else "failed"}: ${c.detail}")
    checks += c
  }

  def dir(name: String): String = work.resolve(name).toString
}

object Main {
  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = opts("workload")
    val out = Paths.get(opts("out"))
    val work = Paths.get(opts("work"))
    HeapAfterGc.install()
    val spark = session(workload, work)
    val jvmStart = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime
    val run = new Run(spark, opts("seed").toLong, opts("seconds").toDouble,
      opts("trace") == "1", Paths.get(opts("data")), work)
    run.setupParts += "session" -> (System.currentTimeMillis() - jvmStart) / 1e3
    try {
      workload match {
        case "nyc_backfill" => Workloads.nycBackfill(run)
        case "corpus_dedup" => Workloads.corpusDedup(run)
        case other => throw new IllegalArgumentException(s"unknown workload $other")
      }
      write(run, workload, out)
    } finally spark.stop()
  }

  /** Spark local[k], k = min(4, cores), with the session settings of the
    * program's own bench; scratch space stays inside `work`. */
  def session(app: String, work: Path): SparkSession = {
    Files.createDirectories(work)
    val cores = math.min(4, Runtime.getRuntime.availableProcessors)
    val spark = SparkSession.builder().master(s"local[$cores]")
      .appName(s"perfbench-$app")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  /** The largest heap in use right after a collection, over the whole run:
    * the live data plus whatever old garbage the collector has not yet
    * reached, as opposed to how far the heap was allowed to grow. */
  private object HeapAfterGc {
    import java.lang.management.{ManagementFactory, MemoryType}
    import javax.management.{NotificationEmitter, NotificationListener}
    import javax.management.openmbean.CompositeData
    import com.sun.management.GarbageCollectionNotificationInfo
    import scala.jdk.CollectionConverters._

    private val heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == MemoryType.HEAP).map(_.getName).toSet
    private val peak = new java.util.concurrent.atomic.AtomicLong
    private val listener = new NotificationListener {
      def handleNotification(n: javax.management.Notification, handback: Any): Unit =
        if (n.getType == GarbageCollectionNotificationInfo.GARBAGE_COLLECTION_NOTIFICATION) {
          val info = GarbageCollectionNotificationInfo.from(n.getUserData.asInstanceOf[CompositeData])
          val used = info.getGcInfo.getMemoryUsageAfterGc.asScala
            .collect { case (pool, u) if heapPools(pool) => u.getUsed }.sum
          peak.accumulateAndGet(used, (a, b) => math.max(a, b))
        }
    }

    def install(): Unit = ManagementFactory.getGarbageCollectorMXBeans.asScala.foreach {
      case e: NotificationEmitter => e.addNotificationListener(listener, null, null)
      case _ =>
    }
    def peakMb: Double = peak.get / (1024.0 * 1024.0)
  }

  private def peakRssMb: Double =
    scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toDouble / 1024).getOrElse(0.0)

  private def write(run: Run, workload: String, out: Path): Unit = {
    val m = new ObjectMapper()
    val root = m.createObjectNode()
    root.put("workload", workload)
    root.put("peak_rss_mb", peakRssMb)
    root.put("peak_heap_after_gc_mb", HeapAfterGc.peakMb)
    val setup = root.putObject("setup")
    run.setupParts.foreach { case (k, v) => setup.put(k, v) }
    val ops = root.putArray("ops")
    run.ops.foreach { o =>
      val n = ops.addObject()
      n.put("id", o.id); n.put("kind", o.kind); n.put("cycle", o.cycle)
      n.put("timed", o.timed); n.put("traced", o.traced)
      n.put("wall_s", o.wall); n.put("rows", o.rows)
      o.error.foreach(e => n.put("error", e))
    }
    val checks = root.putArray("checks")
    run.checks.foreach { c =>
      val n = checks.addObject()
      n.put("op", c.op); n.put("name", c.name); n.put("ok", c.ok)
      n.put("error", c.error); n.put("detail", c.detail)
    }
    run.tracer.foreach(t => writeSpans(run, t, root.putObject("layers"), out))
    m.writerWithDefaultPrettyPrinter().writeValue(out.toFile, root)
  }

  /** Spans go to `spans.jsonl` next to the result; the result carries the
    * per-op summary per span name. */
  private def writeSpans(run: Run, t: Tracer, layers: ObjectNode, out: Path): Unit = {
    val spans = t.all
    val self = SpanSummary.selfNanos(spans)
    val m = new ObjectMapper()
    val w = Files.newBufferedWriter(out.resolveSibling("spans.jsonl"))
    try spans.foreach { s =>
      val n = m.createObjectNode()
      n.put("id", s.id); n.put("name", s.name); n.put("parent", s.parent)
      n.put("op", s.op); n.put("start_ns", s.start); n.put("end_ns", s.end)
      n.put("self_s", self.getOrElse(s.id, 0.0) / 1e9)
      n.put("jobs", s.jobs.get); n.put("tasks", s.tasks.get)
      n.put("shuffle_write_bytes", s.shuffleWriteBytes.get)
      n.put("shuffle_write_records", s.shuffleWriteRecords.get)
      n.put("spill_bytes", s.spillBytes.get); n.put("rows_written", s.rowsWritten.get)
      n.put("cpu_ns", s.cpuNanos.get); n.put("gc_ms", s.gcMillis.get)
      n.put("sched_wait_ms", s.schedWaitMillis.get)
      n.put("task_failures", s.taskFailures.get)
      w.write(m.writeValueAsString(n)); w.newLine()
    } finally w.close()
    val tracedOps = math.max(1, run.tracedCycles)
    val mb = 1024.0 * 1024.0
    spans.groupBy(_.name).toSeq.sortBy(_._1).foreach { case (name, ss) =>
      def per(v: Double) = v / tracedOps
      layers.put(s"$name.self_s", per(ss.map(s => self.getOrElse(s.id, 0.0)).sum / 1e9))
      layers.put(s"$name.calls", per(ss.size))
      layers.put(s"$name.jobs", per(ss.map(_.jobs.get).sum))
      layers.put(s"$name.tasks", per(ss.map(_.tasks.get).sum))
      layers.put(s"$name.shuffle_write_mb", per(ss.map(_.shuffleWriteBytes.get).sum / mb))
      layers.put(s"$name.shuffle_rows", per(ss.map(_.shuffleWriteRecords.get).sum))
      layers.put(s"$name.spill_mb", per(ss.map(_.spillBytes.get).sum / mb))
      layers.put(s"$name.rows_written", per(ss.map(_.rowsWritten.get).sum))
    }
    layers.put("spark.executor_cpu_s", spans.map(_.cpuNanos.get).sum / 1e9 / tracedOps)
    layers.put("spark.gc_s", spans.map(_.gcMillis.get).sum / 1e3 / tracedOps)
    layers.put("spark.sched_wait_s", spans.map(_.schedWaitMillis.get).sum / 1e3 / tracedOps)
    layers.put("spark.task_failures", spans.map(_.taskFailures.get).sum.toDouble / tracedOps)
  }
}
