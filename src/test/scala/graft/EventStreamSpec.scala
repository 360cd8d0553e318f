package graft

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.streaming.EventStream
import graft.streaming.EventStream.Ev

/** Structured Streaming parity: the streaming operators must agree with
  * their oracle-checked batch twins on the same sf0.001 events. */
class EventStreamSpec extends AnyFunSuite {
  import TestSpark._

  private def loadEvents(): Seq[Ev] = {
    import spark.implicits._
    Tables.events(spark, Sf)
      .select("event_id", "ts", "user_id", "event_type", "value")
      .as[Ev].collect().toSeq
  }

  test("streaming hourly window agg matches batch evt_window_hourly") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[Ev]
    input.addData(loadEvents())
    EventStream.runHourlyToMemory(input.toDF(), "stream_hourly")
    val streamed = spark.table("stream_hourly")
      .select("hour", "event_type", "n", "sum_value")
      .orderBy("hour", "event_type").collect().toSeq
    val batch = operators.Events.windowHourly(spark, Sf)
      .select("hour", "event_type", "n", "sum_value")
      .orderBy("hour", "event_type").collect().toSeq
    assert(streamed === batch)
  }

  test("append mode drops events later than the watermark") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    def ev(id: Long, t: String) =
      Ev(id, java.sql.Timestamp.valueOf(t), 1L, "click", 1.0)
    val input = MemoryStream[Ev]
    val q = EventStream.hourlyCounts(input.toDF()).writeStream
      .outputMode("append").format("memory").queryName("wm_test").start()
    // batch 1 advances event time to 12:00; watermark becomes 10:00
    input.addData(ev(1, "2024-01-01 08:30:00"), ev(2, "2024-01-01 12:00:00"))
    q.processAllAvailable()
    // batch 2: 08:45 is before the 10:00 watermark -> dropped;
    // 12:30 is live and stays pending (its window isn't closed)
    input.addData(ev(3, "2024-01-01 08:45:00"), ev(4, "2024-01-01 12:30:00"))
    q.processAllAvailable()
    // advance event time far enough to close every window
    input.addData(ev(5, "2024-01-02 00:00:00"))
    q.processAllAvailable()
    q.stop()
    val hours = spark.table("wm_test")
      .select("hour", "n").collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(hours("2024-01-01 08:00") === 1L) // late event 3 was dropped
    assert(hours("2024-01-01 12:00") === 2L) // events 2 and 4 both counted
  }

  test("stream-stream attribution join matches the batch interval join") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val evs = loadEvents()
    val input = MemoryStream[Ev]
    val q = EventStream.purchaseAttribution(input.toDF()).writeStream
      .outputMode("append").format("memory").queryName("attr_out").start()
    input.addData(evs)
    q.processAllAvailable()
    q.stop()
    val streamed = spark.table("attr_out")
      .select("purchase_id", "click_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val batch = EventStream.purchaseAttribution(
        spark.createDataset(evs).toDF())
      .select("purchase_id", "click_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(streamed === batch)
    assert(streamed.nonEmpty)

    // ...and aggregated, the streamed pairs reproduce the DuckDB-oracle-
    // checked batch operator exactly (streaming -> batch -> oracle chain)
    val aggStreamed = spark.table("attr_out")
      .groupBy("purchase_id")
      .agg(count(lit(1)).as("n_clicks"), min("click_id").as("first_click_id"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val oracleOp = operators.Events.attribution(spark, Sf)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(aggStreamed === oracleOp)
  }

  test("streaming dedup drops re-delivered event ids") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val evs = loadEvents().take(50)
    val input = MemoryStream[Ev]
    val q = EventStream.dedupStream(input.toDF()).writeStream
      .outputMode("append").format("memory").queryName("dedup_out").start()
    input.addData(evs)
    q.processAllAvailable()
    input.addData(evs.take(20)) // re-delivery of the same batch
    q.processAllAvailable()
    q.stop()
    val got = spark.table("dedup_out")
    assert(got.count() === 50)
    assert(got.select("event_id").distinct().count() === 50)
  }

  test("streaming session windows match the batch session_window sessionizer") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[Ev]
    val q = EventStream.sessionWindows(input.toDF()).writeStream
      .outputMode("append").format("memory").queryName("sw_out").start()
    input.addData(loadEvents())
    q.processAllAvailable()
    // flush event far in the future: advances the watermark past every
    // real session's close so append mode emits them all
    input.addData(Ev(999999L, java.sql.Timestamp.valueOf("2024-03-01 00:00:00"),
                     999999L, "click", 0.0))
    q.processAllAvailable()
    q.stop()
    val streamed = spark.table("sw_out")
      .filter(col("user_id") =!= 999999L)
      .groupBy(col("user_id"))
      .agg(count(lit(1)).as("n_sessions"), sum(col("n_events")).as("n_events"))
      .orderBy("user_id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    val batch = operators.Events.sessionizeSessionWindow(spark, Sf)
      .select(col("user_id"), col("n_sessions"), col("n_events"))
      .orderBy("user_id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    assert(streamed.nonEmpty)
    assert(streamed === batch)
  }

  test("streaming sliding windows match the batch window() twin") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[Ev]
    val q = EventStream.slidingWindows(input.toDF()).writeStream
      .outputMode("append").format("memory").queryName("slide_out").start()
    input.addData(loadEvents())
    q.processAllAvailable()
    // flush event far in the future closes every real window under the
    // watermark so append emits them; its own windows are filtered out
    input.addData(Ev(999999L, java.sql.Timestamp.valueOf("2024-03-01 00:00:00"),
                     999999L, "click", 0.0))
    q.processAllAvailable()
    q.stop()
    val streamed = spark.table("slide_out")
      .filter(col("win_start") < "2024-02-28")
      .select("win_start", "n_events")
      .orderBy("win_start").collect()
      .map(r => (r.getString(0), r.getLong(1))).toSeq
    val batch = operators.Events.slidingHourly(spark, Sf)
      .select("win_start", "n_events")
      .orderBy("win_start").collect()
      .map(r => (r.getString(0), r.getLong(1))).toSeq
    assert(streamed.nonEmpty)
    assert(streamed === batch)
  }

  test("streaming KMV sketch estimates match the batch sketch") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[Ev]
    val q = EventStream.kmvDistinctStream(input.toDF()).writeStream
      .outputMode("update").format("memory").queryName("kmv_out").start()
    val evs = loadEvents()
    val (b1, b2) = evs.splitAt(evs.size / 2)
    input.addData(b1); q.processAllAvailable()
    input.addData(b2); q.processAllAvailable()
    q.stop()
    // (n_sketch, est) grows monotonically (minima only accumulate; once
    // full, a smaller kth-min raises (k−1)/h_k), so the max struct per
    // segment IS the final state
    val streamed = spark.table("kmv_out")
      .groupBy(col("event_type"))
      .agg(max(struct(col("n_sketch"), col("est"))).as("s"))
      .select(col("event_type"), col("s.est").as("est"))
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    val batch = operators.Events
      .kmvEstimates(operators.Events.kmvSketch(Tables.events(spark, Sf)))
      .collect().map(r => r.getString(0) -> r.getAs[Double]("est")).toMap
    assert(streamed.nonEmpty)
    assert(streamed === batch)
  }

  test("streaming content dedup drops re-crawled duplicate documents") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    case class Doc(doc_id: Long, ts: java.sql.Timestamp, text: String)
    def doc(id: Long, t: String, body: String) =
      (id, java.sql.Timestamp.valueOf(t), body)
    val input = MemoryStream[(Long, java.sql.Timestamp, String)]
    val q = EventStream.dedupContentStream(
        input.toDF().toDF("doc_id", "ts", "text")).writeStream
      .outputMode("append").format("memory").queryName("content_dedup").start()
    input.addData(
      doc(1, "2024-01-01 10:00:00", "the quick brown fox"),
      doc(2, "2024-01-01 10:01:00", "The  quick BROWN fox"), // same canon
      doc(3, "2024-01-01 10:02:00", "something else"))
    q.processAllAvailable()
    // second batch re-delivers doc 1's content under a new id
    input.addData(doc(9, "2024-01-01 10:30:00", "the quick brown fox!"))
    q.processAllAvailable()
    q.stop()
    val kept = spark.table("content_dedup")
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(kept === Set(1L, 3L)) // 2 and 9 canonicalize to doc 1's hash
  }

  test("stateful sessionizer matches batch evt_sessionize") {
    import spark.implicits._
    // One micro-batch: per-user final state must equal the batch result.
    val ds = spark.createDataset(loadEvents())
    val streamed = EventStream.sessionize(ds)
      .toDF().orderBy("user_id").collect().toSeq
    val batch = operators.Events.sessionize(spark, Sf)
      .select(col("user_id"), col("n_sessions"), col("n_events"))
      .orderBy("user_id").collect().toSeq
    assert(streamed === batch)
  }
}
