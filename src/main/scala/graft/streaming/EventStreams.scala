package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
import org.apache.spark.sql.types.StructType

/** Structured Streaming shapes over the events table.
  *
  * The reference is batch-only (SURVEY.md §2.10); these are the
  * streaming-native equivalents of its incremental patterns: windowed
  * aggregation with watermark (the streaming form of the batch
  * watermark filter, gold.py:56-65), and custom session state via
  * `flatMapGroupsWithState`. Batch twins live in
  * [[graft.queries.EtlQueries]] (q16/q17) so correctness is oracle-checked; these functions are
  * exercised by the streaming spec with a memory sink.
  */
object EventStreams {
  final case class Event(event_id: Long, ts: java.sql.Timestamp,
                         user_id: Long, event_type: String, value: Double)
  final case class Session(user_id: Long, session_start: java.sql.Timestamp,
                           session_end: java.sql.Timestamp, n_events: Long)
  // millisecond bounds; gap decisions use floor-seconds to match the
  // batch twin's unix_timestamp semantics exactly. Public: the state
  // encoder's generated code must reach the constructor.
  final case class SessionState(startMs: Long, endMs: Long, n: Long)

  /** File-source stream over a directory of event parquet. */
  def readEvents(spark: SparkSession, dir: String, schema: StructType): DataFrame =
    spark.readStream.schema(schema).parquet(dir)

  /** Native session windows on the stream — the state-store form of
    * q177's batch aggregate (same close-boundary gap law, enforced by
    * SessionWindowSpec on the batch side). Append mode: a session row
    * emits once, when the watermark passes its end — the
    * exactly-once-per-session contract a downstream sink wants.
    * State is one open session per active user, evicted at the
    * watermark; nothing grows with history. */
  def sessionWindowAgg(events: DataFrame, gap: String = "30 minutes",
                       watermarkDelay: String = "1 hour"): DataFrame =
    events
      .withColumn("ts", col("ts").cast("timestamp"))
      .withWatermark("ts", watermarkDelay)
      .groupBy(col("user_id"), session_window(col("ts"), gap))
      .agg(count(lit(1)).as("n_events"))
      .select(col("user_id"),
        col("session_window.start").cast("timestamp_ntz")
          .as("session_start"),
        col("session_window.end").cast("timestamp_ntz")
          .as("session_end"),
        col("n_events"))

  /** Hourly tumbling-window counts/sums with a late-data watermark —
    * state is bounded by (watermark horizon × event types). */
  def hourlyAgg(events: DataFrame): DataFrame =
    events
      // watermarks accept TIMESTAMP only; NTZ input is interpreted in
      // the UTC session zone and the window start is converted back so
      // batch and stream emit identical NTZ wall-clock values
      .withColumn("ts", col("ts").cast("timestamp"))
      .withWatermark("ts", "2 hours")
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("n_events"),
        (sum(round(col("value") * 100)) / 100.0).as("sum_value"))
      .select(col("window.start").cast("timestamp_ntz").as("window_start"),
        col("event_type"), col("n_events"), col("sum_value"))

  /** Streaming-incremental append into a catalog table — the streaming
    * form of the reference's batch watermark load (gold.py:56-65,278).
    * The checkpoint tracks processed source files, and each micro-batch
    * OVERWRITES its own `batch_id=N` partition — so a batch replayed
    * after a crash-before-checkpoint-commit rewrites the same partition
    * instead of appending duplicates: idempotent, hence exactly-once to
    * the table (a plain parquet append here would be at-least-once). */
  def incrementalAppend(stream: DataFrame, catalog: graft.catalog.TableCatalog,
                        table: String, checkpointDir: String)
      : org.apache.spark.sql.streaming.StreamingQuery =
    stream.writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], id: Long) =>
        catalog.overwrite(batch.toDF(), s"$table/batch_id=$id")
      }
      .start()

  /** Streaming exact dedup on a key set, state bounded by the
    * watermark: Spark keeps each seen key only until the watermark
    * passes its event time + delay, so duplicates arriving within the
    * admissible-lateness horizon are dropped and state stays
    * O(keys per horizon) instead of O(all keys ever) — the streaming
    * twin of the batch `Cleanse.dedupByKey`. Duplicates straddling
    * the horizon are a documented bound (the same trade watermarked
    * aggregation makes), not silent: size the delay to the source's
    * real lateness. */
  def dedupStream(stream: DataFrame, keys: Seq[String], tsCol: String,
                  delay: String = "2 hours"): DataFrame =
    stream
      .withColumn(tsCol, col(tsCol).cast("timestamp"))
      .withWatermark(tsCol, delay)
      .dropDuplicatesWithinWatermark(keys)

  /** Stream-static enrichment: join the event stream to a (small,
    * broadcast) dimension — re-resolved per micro-batch, so dim updates
    * between batches are picked up. */
  def enrich(stream: DataFrame, dim: DataFrame, keys: Seq[String]): DataFrame =
    stream.join(broadcast(dim), keys, "left_outer")

  /** Stream-stream interval join: for each event of `leftType`, matching
    * `rightType` events of the same user within `withinSeconds` AFTER
    * it. Both sides carry watermarks so join state is bounded — without
    * them Spark would buffer both streams forever. */
  def correlate(events: DataFrame, leftType: String, rightType: String,
                withinSeconds: Long): DataFrame = {
    val l = events.filter(col("event_type") === leftType)
      .select(col("event_id").as("l_id"), col("user_id"),
        col("ts").cast("timestamp").as("l_ts"))
      .withWatermark("l_ts", "1 hour")
    val r = events.filter(col("event_type") === rightType)
      .select(col("event_id").as("r_id"), col("user_id").as("r_user"),
        col("ts").cast("timestamp").as("r_ts"))
      .withWatermark("r_ts", "1 hour")
    l.join(r,
      col("user_id") === col("r_user") &&
        col("r_ts") >= col("l_ts") &&
        col("r_ts") <= col("l_ts") + expr(s"INTERVAL $withinSeconds SECONDS"),
      "inner")
      .select(col("user_id"), col("l_id"), col("r_id"), col("l_ts"), col("r_ts"))
  }

  private def toSession(userId: Long, s: SessionState): Session =
    Session(userId, new java.sql.Timestamp(s.startMs),
      new java.sql.Timestamp(s.endMs), s.n)

  /** Shared session fold (batch and stream must never diverge): merge
    * each event into the open session when its floor-second gap to the
    * session is within `gapSeconds`, else close and start anew. Events
    * inside one call arrive sorted; a late-but-admissible event from a
    * later micro-batch may precede the stored bounds, so bounds extend
    * with min/max instead of being overwritten. */
  private def advance(userId: Long, sorted: Seq[Event],
                      init: Option[SessionState], gapSeconds: Long)
      : (Option[SessionState], Seq[Session]) = {
    // floor-second distance from the event to the session interval
    // (0 inside; in-order events reduce to t - end, the batch rule)
    def gapTo(s: SessionState, t: Long): Long = {
      val ts = t / 1000
      if (ts > s.endMs / 1000) ts - s.endMs / 1000
      else if (ts < s.startMs / 1000) s.startMs / 1000 - ts
      else 0L
    }
    var cur = init
    val out = Seq.newBuilder[Session]
    sorted.foreach { e =>
      val t = e.ts.getTime
      cur match {
        case Some(s) if gapTo(s, t) <= gapSeconds =>
          cur = Some(s.copy(startMs = math.min(s.startMs, t),
            endMs = math.max(s.endMs, t), n = s.n + 1))
        case Some(s) =>
          out += toSession(userId, s)
          cur = Some(SessionState(t, t, 1))
        case None =>
          cur = Some(SessionState(t, t, 1))
      }
    }
    (cur, out.result())
  }

  /** Continuous sessionization with EVENT-TIME TIMEOUT: sessions close
    * and emit when the watermark passes their gap horizon, so the
    * stream keeps producing results without waiting for the next event
    * of each user (the production shape; [[sessionize]] is the
    * single-pass batch-style variant). State is O(active users). */
  def sessionizeStream(events: Dataset[Event],
                       gapSeconds: Long = 1800): Dataset[Session] = {
    val spark = events.sparkSession
    import spark.implicits._
    events
      .withWatermark("ts", "10 minutes")
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[SessionState, Session](OutputMode.Append,
        GroupStateTimeout.EventTimeTimeout) {
        (userId: Long, rows: Iterator[Event], state: GroupState[SessionState]) =>
          if (state.hasTimedOut) {
            val s = state.get
            state.remove()
            Iterator.single(toSession(userId, s))
          } else {
            val sorted = rows.toSeq.sortBy(e => (e.ts.getTime, e.event_id))
            val (cur, closed) = advance(userId, sorted, state.getOption, gapSeconds)
            cur.foreach { s =>
              state.update(s)
              // one second past the merge horizon: the floor-second gap
              // rule admits events up to (endSec + gap).999..., so the
              // timeout must not fire before the watermark clears that —
              // otherwise the stream splits a session the batch twin merges
              state.setTimeoutTimestamp((s.endMs / 1000 + gapSeconds + 1) * 1000)
            }
            closed.iterator
          }
      }
  }

  // ---- burst detection (the streaming twin of ops.Bursts) ----

  final case class TypedEvent(ts: java.sql.Timestamp, event_type: String)
  final case class BinRow(event_type: String, bin: Long, n: Long,
                          trail_n: Long, burst_fp: Option[Long],
                          is_burst: Boolean)
  /** `ring` holds the last `trail` CLOSED bins (bin → count) — the
    * trailing baseline; `open` the still-accumulating bins;
    * `lastClosed` fences late events for already-emitted bins. */
  final case class BurstState(ring: Map[Long, Long], open: Map[Long, Long],
                              lastClosed: Long)

  /** Close one bin against the ring: the SAME integer arithmetic as
    * [[graft.ops.Bursts.burstScore]] (`n·trail·10^4 div trail_sum`,
    * no-history bins score null and never flag), plus the evicted
    * ring for the next bin. One shared kernel keeps batch and stream
    * verdicts incapable of diverging. */
  private def closeBin(tpe: String, bin: Long, n: Long,
                       ring: Map[Long, Long], trail: Int,
                       threshold: Long): (BinRow, Map[Long, Long]) = {
    val trailN = ring.iterator
      .filter { case (b, _) => b >= bin - trail && b <= bin - 1 }
      .map(_._2).sum
    val fp = if (trailN > 0) Some(n * trail * 10000 / trailN) else None
    val row = BinRow(tpe, bin, n, trailN, fp, fp.exists(_ >= threshold))
    (row, (ring + (bin -> n)).filter { case (b, _) => b > bin - trail })
  }

  private def binOf(ts: java.sql.Timestamp, binSeconds: Long): Long =
    Math.floorDiv(ts.getTime / 1000L, binSeconds)

  /** Bounded (batch-style) burst fold: per type, bucket and close
    * every bin in order — row-for-row the
    * [[graft.ops.Bursts.burstScore]] result, through the stateful
    * kernel the stream uses. Per-type bin state is telemetry-scale
    * (|bins| of the key's time range), never event-scale. */
  def burstFold(events: Dataset[TypedEvent], binSeconds: Long, trail: Int,
                threshold: Long = 20000): Dataset[BinRow] = {
    val spark = events.sparkSession
    import spark.implicits._
    events.groupByKey(_.event_type).flatMapGroups {
      (tpe: String, rows: Iterator[TypedEvent]) =>
        val counts = scala.collection.mutable.TreeMap.empty[Long, Long]
        rows.foreach { e =>
          val b = binOf(e.ts, binSeconds)
          counts.update(b, counts.getOrElse(b, 0L) + 1L)
        }
        var ring = Map.empty[Long, Long]
        counts.iterator.map { case (b, n) =>
          val (row, r2) = closeBin(tpe, b, n, ring, trail, threshold)
          ring = r2
          row
        }.toSeq.iterator
    }
  }

  /** Continuous burst detection with EVENT-TIME TIMEOUT: bins close
    * and score when the watermark passes their end, so verdicts flow
    * while the stream runs. State per type is the open-bin map plus
    * the `trail`-bin ring — O(types · trail), independent of volume.
    * Events later than the watermark for an ALREADY-CLOSED bin are
    * dropped (the `lastClosed` fence): the admissible-lateness
    * contract is the watermark, exactly as the windowed aggs'. */
  def burstStream(events: Dataset[TypedEvent], binSeconds: Long, trail: Int,
                  threshold: Long = 20000,
                  watermark: String = "2 hours"): Dataset[BinRow] = {
    val spark = events.sparkSession
    import spark.implicits._
    events
      .withWatermark("ts", watermark)
      .groupByKey(_.event_type)
      .flatMapGroupsWithState[BurstState, BinRow](OutputMode.Append,
        GroupStateTimeout.EventTimeTimeout) {
        (tpe: String, rows: Iterator[TypedEvent], state: GroupState[BurstState]) =>
          val st = state.getOption
            .getOrElse(BurstState(Map.empty, Map.empty, Long.MinValue))
          var open = st.open
          rows.foreach { e =>
            val b = binOf(e.ts, binSeconds)
            if (b > st.lastClosed) open = open + (b -> (open.getOrElse(b, 0L) + 1L))
          }
          // close every open bin the watermark has passed, in order
          val wmBin = if (state.getCurrentWatermarkMs() > 0)
            Math.floorDiv(state.getCurrentWatermarkMs() / 1000L, binSeconds)
          else Long.MinValue
          val (closable, still) = open.partition(_._1 < wmBin)
          var ring = st.ring
          var last = st.lastClosed
          val out = closable.toSeq.sortBy(_._1).map { case (b, n) =>
            val (row, r2) = closeBin(tpe, b, n, ring, trail, threshold)
            ring = r2; last = math.max(last, b)
            row
          }
          state.update(BurstState(ring, still, last))
          if (still.nonEmpty)
            // earliest still-open bin closes when the watermark passes
            // its end — wake up there
            state.setTimeoutTimestamp((still.keys.min + 1) * binSeconds * 1000L)
          out.iterator
      }
  }

  /** Gap-based sessionization (30-min inactivity) with explicit state —
    * the `flatMapGroupsWithState` form of q17's batch window query.
    * `emitOpen = true` (batch use) also emits each user's final,
    * still-open session, making the result EQUAL to the q17 window
    * query; `false` (streaming continuation) keeps it in state — and
    * note every user's trailing session is then withheld, so per-user
    * session counts from a bounded run undercount by one per active
    * user. */
  def sessionize(events: Dataset[Event], gapSeconds: Long = 1800,
                 emitOpen: Boolean = false): Dataset[Session] = {
    val spark = events.sparkSession
    import spark.implicits._
    events.groupByKey(_.user_id)
      .flatMapGroupsWithState[SessionState, Session](OutputMode.Append,
        GroupStateTimeout.NoTimeout) {
        (userId: Long, rows: Iterator[Event], state: GroupState[SessionState]) =>
          val sorted = rows.toSeq.sortBy(e => (e.ts.getTime, e.event_id))
          val (cur, closed) = advance(userId, sorted, state.getOption, gapSeconds)
          if (emitOpen) (closed ++ cur.map(toSession(userId, _))).iterator
          else { cur.foreach(state.update); closed.iterator }
      }
  }
}
