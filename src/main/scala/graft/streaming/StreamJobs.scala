package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{DataStreamWriter, GroupState, GroupStateTimeout, OutputMode, Trigger}
import graft.kernel.{Calculate, Conform, Modes}

/** Structured Streaming wrappers (SURVEY.md §2.8: the reference is
  * batch-only — its daily `schedule` loop is cron, not streaming — so these
  * are engine extensions, built on the same pure kernel).
  *
  *  - [[windowedEventCounts]]: event-time tumbling-window aggregation with a
  *    watermark — the streaming twin of the batch q13 query; late data
  *    beyond the watermark is dropped, state is bounded.
  *  - [[streamingKernel]]: micro-batch billing: each incoming fact batch
  *    runs the full rule-match + modes kernel against a static dim via
  *    `foreachBatch`. Because the kernel is a pure DataFrame→DataFrame
  *    function, batch and streaming share one code path — no semantics
  *    drift between the nightly job and the live feed.
  *  - [[sessionizeStream]]: gap-based sessionization with CUSTOM STATE
  *    (`flatMapGroupsWithState` + event-time timeout) — the streaming twin
  *    of the batch q15 query. State per user is one open session (bounded);
  *    sessions close either in-batch (gap observed in the data) or via the
  *    watermark-driven timeout (user went quiet).
  */
object StreamJobs {

  /** Streaming event row (micros-epoch ts comes from the source's
    * timestamp; schema mirrors the batch `events` table). */
  final case class SessionEvent(user_id: Long, ts: java.sql.Timestamp, value: Double)

  /** One open session per user — the entire keyed state. */
  final case class OpenSession(startUs: Long, lastUs: Long, nEvents: Long, sumValue: Double)

  /** Full-microsecond epoch of a `java.sql.Timestamp`. `getTime` alone is
    * MILLIS — using it would truncate the sub-ms part the batch q15 keeps
    * (`unix_micros`), so session boundaries could disagree between the
    * batch and streaming twins on micro-resolution data. `getNanos` holds
    * the complete fractional second. */
  private[streaming] def epochMicros(ts: java.sql.Timestamp): Long =
    Math.floorDiv(ts.getTime, 1000L) * 1000000L + ts.getNanos / 1000L

  /** A closed session, emitted once. */
  final case class ClosedSession(
      user_id: Long, first_us: Long, last_us: Long, n_events: Long, sum_value: Double)

  /** Tumbling-window counts/sums per event_type over a streaming `events`
    * source (schema: ts timestamp, event_type string, value double). */
  def windowedEventCounts(
      events: DataFrame,
      windowLength: String = "1 day",
      watermark: String = "1 hour"): DataFrame =
    events
      .withWatermark("ts", watermark)
      .groupBy(window(col("ts"), windowLength).as("w"), col("event_type"))
      .agg(count(lit(1)).as("n_events"), sum("value").as("sum_value"))
      .select(col("w.start").as("window_start"), col("event_type"),
        col("n_events"), col("sum_value"))

  /** Gap-based sessionization over a stream: a session closes when its user
    * is idle longer than `gap`. In-batch gaps emit immediately; the open
    * tail emits when the event-time timeout fires (watermark has passed
    * last_event + gap). Exactly the batch q15 semantics, with state bounded
    * to ONE open session per active user — this is the `mapGroupsWithState`
    * family's sweet spot: per-key state a windowed aggregation can't
    * express (the window length is data-dependent). */
  def sessionizeStream(
      events: Dataset[SessionEvent],
      gap: java.time.Duration = java.time.Duration.ofHours(1),
      watermark: String = "1 hour"): Dataset[ClosedSession] = {
    val spark = events.sparkSession
    import spark.implicits._
    val gapUs = gap.toNanos / 1000L
    events
      .withWatermark("ts", watermark)
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[OpenSession, ClosedSession](
        OutputMode.Append(), GroupStateTimeout.EventTimeTimeout()) {
        (user: Long, it: Iterator[SessionEvent], state: GroupState[OpenSession]) =>
          if (state.hasTimedOut) {
            val s = state.get
            state.remove()
            Iterator.single(ClosedSession(user, s.startUs, s.lastUs, s.nEvents, s.sumValue))
          } else {
            // order within the batch (micro-batches are unordered)
            val evs = it.toIndexedSeq.sortBy(e => epochMicros(e.ts))
            val closed = scala.collection.mutable.ArrayBuffer.empty[ClosedSession]
            var cur = state.getOption
            evs.foreach { e =>
              val us = epochMicros(e.ts)
              cur match {
                case Some(s) if us - s.lastUs > gapUs =>
                  closed += ClosedSession(user, s.startUs, s.lastUs, s.nEvents, s.sumValue)
                  cur = Some(OpenSession(us, us, 1L, e.value))
                case Some(s) =>
                  cur = Some(s.copy(
                    lastUs = math.max(s.lastUs, us),
                    nEvents = s.nEvents + 1, sumValue = s.sumValue + e.value))
                case None =>
                  cur = Some(OpenSession(us, us, 1L, e.value))
              }
            }
            cur.foreach { s =>
              state.update(s)
              // close the open tail once event time passes last + gap
              state.setTimeoutTimestamp(s.lastUs / 1000L + gap.toMillis)
            }
            closed.iterator
          }
      }
  }

  /** Streaming exact dedup — the batch d01 operator's streaming twin, the
    * dedup-at-the-door shape for a continuously ingesting corpus: keep the
    * FIRST document per content hash, drop later copies. State is keyed by
    * the same content hash the batch groupBy shuffles on, and
    * `dropDuplicatesWithinWatermark` expires a key once the watermark passes
    * it — state stays bounded by (ingest rate × watermark), not corpus size,
    * which is what makes this viable on an unbounded stream. */
  def dedupStream(
      docs: DataFrame,
      textCol: String = "text",
      tsCol: String = "ts",
      watermark: String = "1 hour"): DataFrame =
    docs
      .withColumn("text_md5", md5(col(textCol).cast("binary")))
      .withWatermark(tsCol, watermark)
      .dropDuplicatesWithinWatermark("text_md5")
      .drop("text_md5") // internal state key — callers get the input schema back

  /** Stream-stream interval join — the streaming twin of the batch q26
    * range join: pair each left event with the right events on the same
    * `key` whose timestamps fall within `[leftTs, leftTs + within]`.
    *
    * Both sides are watermarked AND the join condition carries the
    * time-range conjunct — that pair is what lets Spark derive a state
    * retention bound per side (right rows older than
    * `watermark − within` are evicted); an equi-join alone on two streams
    * would buffer both FOREVER. Output columns: left columns plus right's
    * non-key columns prefixed `r_`. */
  def intervalJoinStream(
      left: DataFrame, right: DataFrame,
      key: String, leftTs: String, rightTs: String,
      within: String = "1 hour", watermark: String = "1 hour"): DataFrame = {
    require(leftTs != rightTs, "rename one side's ts column (join needs distinct names)")
    // the time-range conjunct resolves col(leftTs)/col(rightTs) by NAME
    // across the joined frames — a ts name present on BOTH sides becomes an
    // ambiguous reference that fails analysis with a misleading error, so
    // reject it (and the r_ rename collision) here with a readable one
    require(!left.columns.contains(rightTs),
      s"left side must not contain the right ts column '$rightTs'")
    require(!right.columns.contains(leftTs),
      s"right side must not contain the left ts column '$leftTs'")
    val renamed = right.columns.filterNot(c => c == key || c == rightTs).map(c => s"r_$c")
    val collisions = renamed.toSet.intersect(left.columns.toSet)
    require(collisions.isEmpty,
      s"left columns ${collisions.mkString(", ")} collide with the r_-renamed right columns")
    val l = left.withWatermark(leftTs, watermark)
    val r0 = right.withWatermark(rightTs, watermark)
    val r = r0.columns.foldLeft(r0) { (df, c) =>
      if (c == key || c == rightTs) df else df.withColumnRenamed(c, s"r_$c")
    }
    l.join(r,
      l(key) === r(key) &&
        col(rightTs) >= col(leftTs) &&
        col(rightTs) <= col(leftTs) + expr(s"INTERVAL $within"))
      .drop(r(key))
  }

  /** Run the billing kernel per micro-batch against a static dim, writing
    * each conformed batch to the idempotent partitioned sink. `etlTime` is
    * injectable exactly as in the batch path, so a replayed stream is
    * byte-comparable against the batch run (StreamingSpec pins that
    * parity end-to-end on the sf0.001 fact). It is a by-name parameter,
    * evaluated per micro-batch: the default gives each batch its own time,
    * bound as in [[Conform.conformToTarget]]. */
  def streamingKernel(
      factStream: DataFrame,
      dim: DataFrame,
      targetPath: String,
      checkpoint: String,
      extraDiscount: Map[String, Double] = Map.empty,
      etlTime: => org.apache.spark.sql.Column = graft.functions.VectorFunctions.boundNow())
      : DataStreamWriter[org.apache.spark.sql.Row] =
    factStream.writeStream
      .outputMode(OutputMode.Update())
      .option("checkpointLocation", checkpoint)
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (batch: DataFrame, _: Long) =>
        // the kernel is broadcast-joins + per-row expressions all the way
        // to the sink's repartition, so a micro-batch staged as few files
        // (q39's 1-file staging; a thin real feed likewise) runs the whole
        // kernel on that many cores unless widened. Not memoized: each
        // batch is new data.
        val out = Conform.conformToTarget(Calculate.calculateWithCredits(
          graft.tables.SourceState.widen(batch), dim, extraDiscount), etlTime)
        graft.pipeline.Sink.writePartitioned(out, targetPath)
      }
}
