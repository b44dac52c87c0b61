package graft.ops

import org.apache.spark.sql.DataFrame

/** The one place the program cuts a frame's lineage ("pins" it).
  * Every pin in `src/main` goes through [[pin]]; no other file calls
  * a checkpoint API (PinsSpec scans the sources for one). Two forms:
  *
  *  - eager, `pin(df)`: materialize now (one job) and return a frame
  *    whose plan is a leaf — for a multi-consumer intermediate that
  *    would otherwise re-run once per consumer;
  *  - lazy, `pin(df, eager = false)`: truncate the plan now, and
  *    materialize the blocks under the frame's first action — for a
  *    round loop whose next round (or the loop's own convergence
  *    count) consumes the frame anyway, so an eager pin would pay a
  *    dedicated job per round.
  *
  * Default: `localCheckpoint(eager)` — blocks land in executor-local
  * storage, lineage truncates to a leaf, and the ContextCleaner reaps
  * the blocks once the returned frame becomes unreachable. THE
  * FAULT-TOLERANCE TRADE (guide §5): localCheckpoint blocks are NOT
  * recoverable — on a real cluster an executor loss makes them
  * unreadable and fails the job, and doc-cardinality pins at corpus
  * scale hold real executor memory/disk. That is the right trade for
  * a single-JVM harness and for short-lived intermediates; it is NOT
  * the right trade for an hour-long 100 TB pass on preemptible
  * executors.
  *
  * `graft.checkpoint.reliable=true` (Spark runtime conf, or a `-D`
  * system property) swaps every pin to the RELIABLE
  * `checkpoint(eager)` — DFS-backed via `spark.checkpoint.dir`, which
  * must be set or Spark throws loudly. Results are identical under
  * either mode (PinsSpec runs one case per pinning family bit-equal
  * across the flag); only the storage medium and recovery story
  * change.
  *
  * A pin's RDD and job carry the CALLER's source line as their Spark
  * call site (`localCheckpoint at Dedup.scala:397`, as a direct call
  * would), so plan dumps and stage names still say which pin they
  * are. */
object Pins {
  private[graft] def reliable(df: DataFrame): Boolean =
    df.sparkSession.conf.getOption("graft.checkpoint.reliable")
      .orElse(sys.props.get("graft.checkpoint.reliable"))
      .exists(_.toBoolean)

  /** Cut `df`'s lineage; materialize now when `eager`, else under the
    * returned frame's first action. */
  def pin(df: DataFrame, eager: Boolean = true): DataFrame =
    if (reliable(df)) atCallerSite(df, "checkpoint")(df.checkpoint(eager))
    else atCallerSite(df, "localCheckpoint")(df.localCheckpoint(eager))

  // SparkContext.getCallSite reads these local properties before it
  // falls back to walking the stack (which would stop at this file)
  private val ShortForm = "callSite.short"
  private val LongForm = "callSite.long"

  /** Run `body` with the Spark call site set to the first stack frame
    * outside this object, in Spark's own `<method> at <file>:<line>`
    * form; the thread's previous call site is restored afterwards. */
  private def atCallerSite[T](df: DataFrame, method: String)(body: => T): T = {
    val sc = df.sparkSession.sparkContext
    val frames = Thread.currentThread.getStackTrace.toSeq.dropWhile { f =>
      f.getClassName == "java.lang.Thread" ||
        f.getClassName.startsWith("graft.ops.Pins")
    }
    val caller = frames.head
    val prevShort = sc.getLocalProperty(ShortForm)
    val prevLong = sc.getLocalProperty(LongForm)
    sc.setLocalProperty(ShortForm,
      s"$method at ${caller.getFileName}:${caller.getLineNumber}")
    sc.setLocalProperty(LongForm, frames.take(20).mkString("\n"))
    try body
    finally {
      sc.setLocalProperty(ShortForm, prevShort)
      sc.setLocalProperty(LongForm, prevLong)
    }
  }
}
