package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._
import graft.functions.Num.rnd
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** Structured Streaming twins of the batch event operators
  * (graft.operators.Events). The reference polls + batch-loads activity
  * files (/root/reference/core/etl_service.py job loop); stream-native
  * re-expression uses watermarked windows and keyed state instead.
  *
  * Tested via MemoryStream in EventStreamSpec (batch parity at sf0.001);
  * rows-only per SURVEY §2.5 (streaming output has no SQL oracle).
  */
object EventStream {

  case class Ev(event_id: Long, ts: java.sql.Timestamp, user_id: Long,
                event_type: String, value: Double)
  case class SessionState(lastTsMicros: Long, nSessions: Long, nEvents: Long)
  case class UserSessions(user_id: Long, n_sessions: Long, n_events: Long)

  /** Watermarked tumbling-hour aggregation over an event stream. */
  def hourlyCounts(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "2 hours")
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("n"), rnd(sum(col("value")), 2).as("sum_value"))
      .select(date_format(col("window.start"), "yyyy-MM-dd HH:00").as("hour"),
              col("event_type"), col("n"), col("sum_value"))

  /** Stateful gap sessionizer: >30-min silence starts a new session.
    * Same semantics as the batch window-function version
    * (graft.operators.Events.sessionize), expressed as keyed state so it
    * runs unbounded. Scale: state is O(users) and partitioned by key. */
  def sessionize(events: Dataset[Ev]): Dataset[UserSessions] = {
    import events.sparkSession.implicits._
    val gapUs = 1800L * 1000000L
    events
      .groupByKey(_.user_id)
      .mapGroupsWithState[SessionState, UserSessions](
        GroupStateTimeout.NoTimeout) {
        (userId: Long, evs: Iterator[Ev], state: GroupState[SessionState]) =>
          val sorted = evs.toSeq.sortBy(e => (e.ts.getTime, e.event_id))
          var st = state.getOption.getOrElse(SessionState(Long.MinValue, 0L, 0L))
          sorted.foreach { e =>
            val us = e.ts.getTime * 1000L
            val isNew = st.lastTsMicros == Long.MinValue ||
              us - st.lastTsMicros > gapUs
            st = SessionState(us, st.nSessions + (if (isNew) 1 else 0),
                              st.nEvents + 1)
          }
          state.update(st)
          UserSessions(userId, st.nSessions, st.nEvents)
      }
  }

  /** Watermarked native session windows — the streaming form of
    * operators.Events.sessionizeSessionWindow (the SAME session_window
    * gap-merge aggregate; that's the point of using it in batch).
    * Sessions emit on append once the watermark passes their close, so
    * state is bounded by the watermark horizon. */
  def sessionWindows(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "2 hours")
      .groupBy(col("user_id"), session_window(col("ts"), "30 minutes"))
      .agg(count(lit(1)).as("n_events"))
      .select(col("user_id"),
              date_format(col("session_window.start"), "yyyy-MM-dd HH:mm:ss")
                .as("session_start"),
              col("n_events"))

  /** Watermarked SLIDING windows — the streaming form of
    * operators.Events.slidingHourly (the SAME window(size, slide)
    * generator; that's the point of using it in batch): 1 h windows
    * every 15 min, emitted on append once the watermark passes each
    * window's close, so state is bounded by (horizon/slide) windows
    * per key-space regardless of stream length. */
  def slidingWindows(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "2 hours")
      .groupBy(window(col("ts"), "1 hour", "15 minutes").as("w"))
      .agg(count(lit(1)).as("n_events"))
      .select(date_format(col("w.start"), "yyyy-MM-dd HH:mm").as("win_start"),
              col("n_events"))

  case class KmvEstimate(event_type: String, n_sketch: Int, est: Double)

  /** Streaming KMV distinct sketch per segment — the stream-native twin
    * of the batch evt_segment_overlap sketch: keyed state holds each
    * segment's ≤ k smallest md5 user-hashes (O(segments × k) state
    * forever, the FreqItemsStream contract), and every batch emits the
    * refreshed distinct estimate. The hash is the SAME md5 13-nibble /
    * 2⁵² coin as the batch sketch, so a sketch maintained on the stream
    * is byte-interchangeable with one rebuilt in batch — the parity
    * spec pins the estimates equal. Downstream overlap math is the
    * batch pair stage over these sketches. */
  def kmvDistinctStream(events: DataFrame): Dataset[KmvEstimate] = {
    import events.sparkSession.implicits._
    val k = graft.operators.Events.KmvK
    events.select(col("event_type"), col("user_id")).as[(String, Long)]
      .groupByKey(_._1)
      .mapGroupsWithState[Seq[Double], KmvEstimate](
        GroupStateTimeout.NoTimeout) {
        (seg: String, rows: Iterator[(String, Long)],
         state: GroupState[Seq[Double]]) =>
          val md = java.security.MessageDigest.getInstance("MD5")
          def coin(uid: Long): Double = {
            md.reset()
            val hex = md.digest(uid.toString.getBytes("UTF-8"))
              .map("%02x".format(_)).mkString.take(13)
            java.lang.Long.parseLong(hex, 16).toDouble / 4503599627370496.0
          }
          val merged = (state.getOption.getOrElse(Seq.empty) ++
            rows.map(r => coin(r._2))).distinct.sorted.take(k)
          state.update(merged)
          val est =
            if (merged.size < k) merged.size.toDouble
            else math.floor((k - 1).toDouble / merged.last * 100 + 0.5) / 100
          KmvEstimate(seg, merged.size, est)
      }
  }

  /** Stream-stream interval join: attach to each purchase the clicks
    * the same user made in the preceding 30 minutes. Both sides are
    * watermarked so join state is bounded — the standard streaming
    * attribution shape. */
  def purchaseAttribution(events: DataFrame): DataFrame = {
    val purchases = events.filter(col("event_type") === "purchase")
      .select(col("user_id").as("p_user"), col("ts").as("p_ts"),
              col("event_id").as("purchase_id"))
      .withWatermark("p_ts", "1 hour")
    val clicks = events.filter(col("event_type") === "click")
      .select(col("user_id").as("c_user"), col("ts").as("c_ts"),
              col("event_id").as("click_id"))
      .withWatermark("c_ts", "1 hour")
    purchases.join(clicks,
      col("p_user") === col("c_user") &&
        col("c_ts") >= col("p_ts") - expr("INTERVAL 30 MINUTES") &&
        col("c_ts") <= col("p_ts"))
      .select(col("purchase_id"), col("click_id"), col("p_user").as("user_id"))
  }

  /** Streaming exact dedup: drop re-delivered events by id, keeping
    * state only within the watermark (bounded memory — the property
    * that lets exactly-once-ish ingestion run forever; the batch twin
    * is the content-hash dedup in graft.dedup.Dedup). */
  def dedupStream(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "1 hour")
      .dropDuplicatesWithinWatermark("event_id")

  /** Streaming CONTENT dedup — the stream-native twin of
    * dedup.Dedup.incremental: documents arriving on a stream are
    * dropped when their canonicalized content hash was already seen
    * inside the watermark horizon. The hash is computed in-stream
    * (map-side), state holds one 16-byte hash per distinct doc within
    * the horizon, and the first arrival wins — so a re-crawled or
    * re-delivered document never lands twice. Needs `ts` + `text`
    * columns. */
  def dedupContentStream(docs: DataFrame): DataFrame =
    docs
      .withColumn("norm_hash",
        md5(graft.functions.TextFunctions.normText(col("text"))))
      .withWatermark("ts", "1 hour")
      .dropDuplicatesWithinWatermark("norm_hash")

  /** Convenience: run the hourly aggregation over a micro-batch stream
    * into an in-memory sink (complete mode — append would hold back
    * windows the watermark hasn't closed yet, losing the stream's tail). */
  def runHourlyToMemory(events: DataFrame, queryName: String): Unit = {
    val q = hourlyCounts(events).writeStream
      .outputMode(OutputMode.Complete)
      .format("memory")
      .queryName(queryName)
      .start()
    q.processAllAvailable()
    q.stop()
  }
}
