package graft.streaming

import java.sql.Timestamp
import graft.SparkSpec
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.Trigger

class SessionizeSpec extends SparkSpec {

  private def ts(s: String) = Timestamp.valueOf(s)

  /** transformWithState requires the RocksDB provider; the streamed
    * section runs on a session of its own with that provider and one
    * shuffle partition (each micro-batch commits one RocksDB store per
    * partition, and without the native Hadoop lib each commit forks chmod
    * processes per store file), so the suite session is never changed.
    */
  private def withTwsSession[T](body: SparkSession => T): T = {
    val own = spark.newSession()
    own.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state" +
        ".RocksDBStateStoreProvider")
    own.conf.set("spark.sql.shuffle.partitions", "1")
    body(own)
  }

  test("transformWithState closes sessions on 30-min gaps")(withTwsSession { s =>
    implicit val sqlCtx = s.sqlContext
    import s.implicits._
    val input = MemoryStream[Sessionize.Event]
    // user 1: two events 5 min apart, then a 2-hour gap, then one more —
    // the gap closes session 1 within the stream itself
    input.addData(
      Sessionize.Event(1L, 1L, ts("2024-01-01 10:00:00")),
      Sessionize.Event(1L, 2L, ts("2024-01-01 10:05:00")),
      Sessionize.Event(1L, 3L, ts("2024-01-01 12:30:00")),
      Sessionize.Event(2L, 4L, ts("2024-01-01 10:00:00")))
    val query = Sessionize.sessionizeStream(input.toDS())
      .writeStream.format("memory").queryName("sessions")
      .outputMode("append").start()
    query.processAllAvailable()
    // batch 2: advance the watermark past 12:30+30min+1h so the OPEN
    // sessions (user 1's second, user 2's only) close via the event-time
    // TIMER — the handleExpiredTimer path the gap-close never exercises
    input.addData(Sessionize.Event(9L, 99L, ts("2024-01-01 15:00:00")))
    query.processAllAvailable()
    // one more batch so timers registered against the new watermark fire
    input.addData(Sessionize.Event(9L, 100L, ts("2024-01-01 15:00:01")))
    query.processAllAvailable()
    query.stop()
    val closed = s.table("sessions")
      .as[Sessionize.SessionOut].collect()
    // user 1: the gap emitted session 1; the timer emitted session 2
    val u1 = closed.filter(_.user_id == 1L).sortBy(_.session_start.getTime)
    assert(u1.length == 2, s"expected gap+timer closes, got ${u1.toSeq}")
    assert(u1.head.n_events == 2 && u1.head.first_event == 1L)
    assert(u1.head.session_start == ts("2024-01-01 10:00:00"))
    assert(u1.head.session_end == ts("2024-01-01 10:05:00"))
    assert(u1(1).n_events == 1 && u1(1).first_event == 3L)
    // user 2: single-event session closed by the timer alone
    val u2 = closed.filter(_.user_id == 2L)
    assert(u2.length == 1 && u2.head.n_events == 1)
    assert(u2.head.session_end == ts("2024-01-01 10:00:00"))
  })

  test("late in-window event does not regress session end")(withTwsSession { s =>
    implicit val sqlCtx = s.sqlContext
    import s.implicits._
    val input = MemoryStream[Sessionize.Event]
    val query = Sessionize.sessionizeStream(input.toDS())
      .writeStream.format("memory").queryName("late_sessions")
      .outputMode("append").start()
    // batch 1: session open, last = 10:10
    input.addData(
      Sessionize.Event(7L, 1L, ts("2024-01-01 10:00:00")),
      Sessionize.Event(7L, 2L, ts("2024-01-01 10:10:00")))
    query.processAllAvailable()
    // batch 2: late arrival at 10:05 (within the 1h watermark) — must NOT
    // pull `last` back from 10:10 to 10:05
    input.addData(Sessionize.Event(7L, 3L, ts("2024-01-01 10:05:00")))
    query.processAllAvailable()
    // batch 3: 10:38 is within 30 min of the true last (10:10) but NOT of
    // the regressed one (10:05) — regressing code splits the session here
    input.addData(Sessionize.Event(7L, 4L, ts("2024-01-01 10:38:00")))
    query.processAllAvailable()
    // batch 4: a 2h-later event closes and emits the session
    input.addData(Sessionize.Event(7L, 5L, ts("2024-01-01 13:00:00")))
    query.processAllAvailable()
    query.stop()
    val closed = s.table("late_sessions")
      .as[Sessionize.SessionOut].collect().filter(_.user_id == 7L)
    assert(closed.length == 1, s"session spuriously split: ${closed.toSeq}")
    assert(closed.head.n_events == 4)
    assert(closed.head.session_end == ts("2024-01-01 10:38:00"))
  })

  test("watermarked windowed rollup emits finalized windows matching batch") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val input = MemoryStream[Sessionize.Event]
    val query = Sessionize.windowedRollup(input.toDS())
      .writeStream.format("memory").queryName("rollup")
      .outputMode("append").start()
    val batch1 = Seq(
      Sessionize.Event(1L, 1L, ts("2024-01-01 10:05:00")),
      Sessionize.Event(1L, 2L, ts("2024-01-01 10:45:00")),
      Sessionize.Event(2L, 3L, ts("2024-01-01 10:50:00")))
    input.addData(batch1: _*)
    query.processAllAvailable()
    // advance the watermark past 11:00 + 1h so the 10:00 window finalizes
    input.addData(Sessionize.Event(1L, 4L, ts("2024-01-01 13:00:00")))
    query.processAllAvailable()
    query.stop()
    val streamed = spark.table("rollup")
      .select(col("window.start").cast("string"), col("user_id"), col("n_events"))
      .as[(String, Long, Long)].collect().toSet
    // batch twin over the same closed hour
    val expected = batch1.toDS()
      .groupBy(window(col("ts"), "1 hour"), col("user_id"))
      .agg(count(lit(1)).as("n_events"))
      .select(col("window.start").cast("string"), col("user_id"), col("n_events"))
      .as[(String, Long, Long)].collect().toSet
    assert(streamed == expected)
    assert(streamed == Set(
      ("2024-01-01 10:00:00", 1L, 2L), ("2024-01-01 10:00:00", 2L, 1L)))
  }

  test("stream-stream precios×volumenes join matches the batch join") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val pIn = MemoryStream[(Timestamp, Int, Double)]
    val vIn = MemoryStream[(Timestamp, Int, Double)]
    val p = pIn.toDS().toDF("datetime_utc", "id_mercado", "precio")
    val v = vIn.toDS().toDF("datetime_utc", "id_mercado", "volumenes")
    val query = StreamJoin.joinPreciosVolumenes(p, v)
      .writeStream.format("memory").queryName("pv_join")
      .outputMode("append").start()
    // price arrives first; the matching volume lands in a later micro-batch
    pIn.addData((ts("2024-07-15 10:00:00"), 1, 50.0),
      (ts("2024-07-15 10:15:00"), 1, 60.0))
    query.processAllAvailable()
    vIn.addData((ts("2024-07-15 10:00:00"), 1, 2.0),
      (ts("2024-07-15 10:15:00"), 1, 4.0),
      (ts("2024-07-15 10:15:00"), 2, 9.0)) // no matching price ⇒ no row
    query.processAllAvailable()
    query.stop()
    val got = spark.table("pv_join")
      .select("datetime_utc", "id_mercado", "importe")
      .as[(Timestamp, Int, Double)].collect().toSet
    val expected = graft.query.Reader.joinPreciosVolumenes(
        Seq((ts("2024-07-15 10:00:00"), 1, 50.0), (ts("2024-07-15 10:15:00"), 1, 60.0))
          .toDF("datetime_utc", "id_mercado", "precio"),
        Seq((ts("2024-07-15 10:00:00"), 1, 2.0), (ts("2024-07-15 10:15:00"), 1, 4.0),
          (ts("2024-07-15 10:15:00"), 2, 9.0))
          .toDF("datetime_utc", "id_mercado", "volumenes"))
      .select("datetime_utc", "id_mercado", "importe")
      .as[(Timestamp, Int, Double)].collect().toSet
    assert(got == expected)
    assert(got == Set((ts("2024-07-15 10:00:00"), 1, 100.0),
      (ts("2024-07-15 10:15:00"), 1, 240.0)))
  }

  test("batch twin (w12_sessionize) and stream agree on session structure") {
    import spark.implicits._
    // run the registered batch sessionizer on sf0.001 and sanity-check
    val batch = graft.SparkEntry.queries("w12_sessionize")(spark, sfDir)
    val n = batch.count()
    assert(n > 0)
    // session event counts must sum to the event count
    val total = batch.agg(org.apache.spark.sql.functions.sum("n_events"))
      .as[Long].head()
    assert(total == graft.Tables.events(spark, sfDir).count())
  }
}
