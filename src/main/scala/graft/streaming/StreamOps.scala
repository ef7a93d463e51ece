package graft.streaming

import java.sql.Timestamp

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** Event-time streaming analytics over ingested streams — the query surface
  * the reference leaves to downstream engines (SURVEY §2.10: no
  * watermarks/event-time windows/session state in the reference; late data
  * is simply upserted by PK). Built on Structured Streaming: watermarked
  * tumbling windows and gap-based sessionization with custom state.
  *
  * Scale: windowed aggregation state is keyed by (window, group) and
  * bounded by the watermark — state store size ∝ active windows, not stream
  * length; sessionization state is per key with timeout-driven eviction.
  */
object StreamOps {

  /** Watermarked tumbling-window aggregation: (window, event_type) counts
    * and value sums; late events beyond `lateness` are dropped from state. */
  def hourlyEventCounts(events: DataFrame, lateness: String = "10 minutes"): DataFrame =
    events
      .withWatermark("ts", lateness)
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("n"), sum(col("value")).as("total_value"))
      .select(col("window.start").as("hour"), col("event_type"),
        col("n"), col("total_value"))

  /** Streaming exact dedup for ingest pipelines: drops records whose key
    * columns repeat within the watermark horizon. State is bounded — a
    * key's entry is evicted once the watermark passes its event time
    * (`dropDuplicatesWithinWatermark`), so state size tracks the lateness
    * window, not the stream length. For content dedup pass a digest
    * column (e.g. `xxhash64(text)`) as the key. */
  def streamingDedup(records: DataFrame, keyCols: Seq[String], tsCol: String,
      lateness: String = "10 minutes"): DataFrame =
    records
      .withWatermark(tsCol, lateness)
      .dropDuplicatesWithinWatermark(keyCols.head, keyCols.tail: _*)

  /** Watermarked stream-stream INTERVAL join — the enrichment shape
    * (impressions ⋈ clicks, requests ⋈ responses): each left event joins
    * right events with the same key whose event time falls in
    * `[leftTs, leftTs + within]`. BOTH sides carry watermarks and the join
    * condition time-bounds both directions, so Spark can compute state
    * eviction for each side — without the bound, stream-stream join state
    * grows with the stream. Column names are prefixed `l_`/`r_` to keep
    * the joined schema collision-free.
    *
    * Scale: join state is keyed by `keyCol` and bounded by
    * watermark + `within`; state size ∝ in-flight interval, not history. */
  def intervalJoin(left: DataFrame, right: DataFrame, keyCol: String,
      leftTs: String, rightTs: String, within: String,
      lateness: String = "10 minutes"): DataFrame = {
    val l = left.columns.foldLeft(left)((df, c) => df.withColumnRenamed(c, s"l_$c"))
      .withWatermark(s"l_$leftTs", lateness)
    val r = right.columns.foldLeft(right)((df, c) => df.withColumnRenamed(c, s"r_$c"))
      .withWatermark(s"r_$rightTs", lateness)
    l.join(r, expr(
      s"l_$keyCol = r_$keyCol AND " +
        s"r_$rightTs >= l_$leftTs AND " +
        s"r_$rightTs <= l_$leftTs + interval $within"))
  }

  final case class Event(user_id: Long, ts: Timestamp, event_type: String, value: Double)
  final case class SessionState(start: Long, lastTs: Long, n: Int, total: Double)
  final case class Session(
      user_id: Long, session_start: Timestamp, session_end: Timestamp,
      n_events: Int, total_value: Double)

  /** Gap-based sessionization via flatMapGroupsWithState: a session closes
    * when no event arrives within `gapMs`; idle keys are evicted by an
    * EVENT-time timeout (watermark-driven, deterministic under replay —
    * processing-time timeouts would re-trigger empty batches forever and
    * emit nondeterministically). Custom state per user — the
    * KeyValueGroupedDataset state API (SURVEY §2.10 extension surface). */
  def sessionize(events: Dataset[Event], gapMs: Long = 30 * 60 * 1000L,
      lateness: String = "10 minutes")
      (implicit spark: SparkSession): Dataset[Session] = {
    import spark.implicits._
    events
      .withWatermark("ts", lateness)
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[SessionState, Session](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        (userId: Long, rows: Iterator[Event], state: GroupState[SessionState]) =>
          if (state.hasTimedOut) {
            val out = state.getOption.map(s => Session(
              userId, new Timestamp(s.start), new Timestamp(s.lastTs), s.n, s.total))
            state.remove()
            out.iterator
          } else {
            val sorted = rows.toSeq.sortBy(_.ts.getTime)
            var closed = List.empty[Session]
            var cur = state.getOption
            for (e <- sorted) {
              val t = e.ts.getTime
              cur match {
                case Some(s) if t - s.lastTs <= gapMs =>
                  cur = Some(s.copy(lastTs = t, n = s.n + 1, total = s.total + e.value))
                case Some(s) =>
                  closed ::= Session(userId, new Timestamp(s.start),
                    new Timestamp(s.lastTs), s.n, s.total)
                  cur = Some(SessionState(t, t, 1, e.value))
                case None =>
                  cur = Some(SessionState(t, t, 1, e.value))
              }
            }
            cur match {
              case Some(s) =>
                state.update(s)
                state.setTimeoutTimestamp(s.lastTs + gapMs)
              case None => ()
            }
            closed.reverseIterator
          }
      }
  }
}
