package graft.operators

import java.sql.Timestamp
import graft.SparkSpec

class AsOfJoinSpec extends SparkSpec {
  import spark.implicits._

  private def ts(s: String) = Timestamp.valueOf(s)

  test("as-of semantics: latest at-or-before, exact match, no-prior null") {
    val quotes = Seq(
      (1L, ts("2024-01-01 10:00:00"), 50.0),
      (1L, ts("2024-01-01 11:00:00"), 60.0),
      (2L, ts("2024-01-01 12:00:00"), 99.0))
      .toDF("user_id", "ts", "price")
    val facts = Seq(
      (10L, 1L, ts("2024-01-01 09:30:00"), 1.0), // before any quote → null
      (11L, 1L, ts("2024-01-01 10:00:00"), 2.0), // exact ts → that quote
      (12L, 1L, ts("2024-01-01 10:45:00"), 3.0), // between → 10:00 quote
      (13L, 1L, ts("2024-01-01 13:00:00"), 4.0), // after all → latest
      (14L, 2L, ts("2024-01-01 12:30:00"), 5.0), // key isolation
      (15L, 3L, ts("2024-01-01 12:30:00"), 6.0)) // key with no quotes
      .toDF("event_id", "user_id", "ts", "vol")
    val got = AsOfJoin.asOf(facts, quotes, "user_id", "ts", Seq("price"))
      .select("event_id", "price").as[(Long, Option[Double])]
      .collect().toMap
    assert(got == Map(
      10L -> None, 11L -> Some(50.0), 12L -> Some(50.0), 13L -> Some(60.0),
      14L -> Some(99.0), 15L -> None))
  }

  test("matched quote with NULL field stays NULL; rows are never stitched") {
    // quote at 11:00 has price=NULL, size=9 — a fact after it must see
    // THAT row's (NULL, 9), not price forward-filled from the 10:00 quote
    val quotes = Seq(
      (1L, ts("2024-01-01 10:00:00"), Some(5.0), Some(1L)),
      (1L, ts("2024-01-01 11:00:00"), Option.empty[Double], Some(9L)))
      .toDF("user_id", "ts", "price", "size")
    val facts = Seq((20L, 1L, ts("2024-01-01 11:30:00"), 1.0))
      .toDF("event_id", "user_id", "ts", "vol")
    val got = AsOfJoin.asOf(facts, quotes, "user_id", "ts", Seq("price", "size"))
      .select("event_id", "price", "size")
      .as[(Long, Option[Double], Option[Long])].collect().toSeq
    assert(got == Seq((20L, None, Some(9L))))
  }

  test("as-of composition plans one fill window and at most two exchanges") {
    val quotes = Seq(
      (10L, ts("2024-01-01 09:55:00"), 1.5),
      (10L, ts("2024-01-01 10:10:00"), 2.5),
      (20L, ts("2024-01-01 10:05:00"), 7.0))
      .toDF("k", "ts", "price")
    val facts = Seq(
      (1L, 10L, ts("2024-01-01 10:00:00")),
      (2L, 10L, ts("2024-01-01 10:20:00")),
      (3L, 20L, ts("2024-01-01 10:05:00")))
      .toDF("event_id", "k", "ts")
    val joined = AsOfJoin.asOf(facts, quotes, "k", "ts", Seq("price"))
    assert(joined.select("event_id", "price").as[(Long, Option[Double])]
      .collect().toMap == Map(1L -> Some(1.5), 2L -> Some(2.5), 3L -> Some(7.0)))
    val p = joined.queryExecution.executedPlan.toString
    assert(p.contains("Window"), s"as-of plan lost the fill window:\n$p")
    assert(p.linesIterator.count(_.contains("Exchange ")) <= 2,
      s"as-of plan pays unexpected exchanges:\n$p")
  }

  test("quote columns clashing with fact columns are rejected") {
    val q = Seq((1L, ts("2024-01-01 10:00:00"), 1.0)).toDF("k", "t", "v")
    val f = Seq((1L, ts("2024-01-01 10:30:00"), 2.0)).toDF("k", "t", "v")
    intercept[IllegalArgumentException] {
      AsOfJoin.asOf(f, q, "k", "t", Seq("v"))
    }
  }
}
