package graft.operators

import java.sql.Timestamp
import graft.SparkSpec

/** Randomized differential testing (seeded, reproducible): the distributed
  * as-of and range joins vs independent driver-side reference
  * implementations over generated data — the structural cases fixed
  * fixtures can miss (bucket-boundary hits, equal timestamps, empty keys).
  */
class RandomizedOpsSpec extends SparkSpec {
  import spark.implicits._

  private val base = Timestamp.valueOf("2024-01-01 00:00:00").getTime

  test("asOf matches a driver-side reference on seeded random data") {
    val rnd = new scala.util.Random(42)
    for (round <- 1 to 5) {
      val quotes = Seq.tabulate(40) { i =>
        (rnd.nextInt(4).toLong, new Timestamp(base + rnd.nextInt(5000) * 997L),
          rnd.nextInt(100).toDouble)
      }.distinctBy(q => (q._1, q._2)) // unique (key, ts): as-of precondition
      val facts = Seq.tabulate(60) { i =>
        (i.toLong, rnd.nextInt(5).toLong,
          new Timestamp(base + rnd.nextInt(5000) * 997L))
      }
      val got = AsOfJoin.asOf(
          facts.toDF("event_id", "k", "ts"),
          quotes.toDF("k", "ts", "price"), "k", "ts", Seq("price"))
        .select("event_id", "price").as[(Long, Option[Double])]
        .collect().toMap
      // reference: per key, latest quote at-or-before, by scan
      val byKey = quotes.groupBy(_._1)
      val expected = facts.map { case (id, k, ts) =>
        id -> byKey.getOrElse(k, Seq())
          .filter(_._2.getTime <= ts.getTime)
          .sortBy(_._2.getTime).lastOption.map(_._3)
      }.toMap
      assert(got == expected, s"round $round diverged")
    }
  }

  test("range join matches a driver-side reference on seeded random data") {
    val rnd = new scala.util.Random(7)
    for (round <- 1 to 5) {
      val intervals = Seq.tabulate(30) { i =>
        val start = base + rnd.nextInt(4000) * 1000L
        (i.toLong, rnd.nextInt(3).toLong, new Timestamp(start),
          new Timestamp(start + rnd.nextInt(3600) * 1000L))
      }
      val facts = Seq.tabulate(50) { i =>
        (i.toLong, rnd.nextInt(4).toLong,
          new Timestamp(base + rnd.nextInt(8000) * 1000L))
      }
      // deliberately awkward bucket width so boundaries land mid-interval
      val got = RangeJoin.byContainment(
          facts.toDF("event_id", "k", "ts"),
          intervals.toDF("iv_id", "k", "start_ts", "end_ts"),
          "k", "ts", "start_ts", "end_ts", bucketSeconds = 37)
        .select("iv_id", "event_id").as[(Long, Long)].collect().toSet
      val expected = (for {
        (iv, ik, s, e) <- intervals
        (f, fk, t) <- facts
        if ik == fk && t.getTime >= s.getTime && t.getTime <= e.getTime
      } yield (iv, f)).toSet
      assert(got == expected, s"round $round diverged")
    }
  }

  test("bracket percentiles match percentile() on seeded random shapes") {
    // distribution shapes the fixed fixtures can miss: dense ties, heavy
    // skew, negatives, sub-ulp clusters, and leafLimit boundaries
    val rnd = new scala.util.Random(1234)
    val shapes: Seq[Int => Double] = Seq(
      _ => rnd.nextDouble() * 1e6 - 5e5, // uniform incl. negatives
      _ => math.exp(rnd.nextGaussian() * 5), // heavy right skew
      _ => rnd.nextInt(7).toDouble, // dense ties, tiny support
      i => if (i % 10 == 0) rnd.nextDouble() else 42.0, // 90% one value
      _ => 1e9 + rnd.nextInt(3) * math.ulp(1e9)) // sub-ulp cluster
    for ((gen, si) <- shapes.zipWithIndex) {
      val n = 500 + rnd.nextInt(1500)
      val df = Seq.tabulate(n)(gen).toDF("v")
      val ps = Seq(0.0, rnd.nextDouble(), 0.5, 0.97, 1.0)
      val leaf = 1 + rnd.nextInt(100)
      val got = Quantiles.percentiles(df, "v", ps, leafLimit = leaf.toLong)
      val exprs = ps.map(p => org.apache.spark.sql.functions
        .expr(s"percentile(v, CAST($p AS DOUBLE))"))
      val r = df.agg(exprs.head, exprs.tail: _*).head()
      val want = ps.indices.map(r.getDouble)
      assert(got == want,
        s"shape $si (n=$n leaf=$leaf): got $got want $want")
    }
  }

  test("grouped percentiles match percentile() on seeded random groups") {
    val rnd = new scala.util.Random(99)
    val rows = Seq.tabulate(3000) { i =>
      val g = s"g${rnd.nextInt(7)}"
      val v = rnd.nextInt(40).toDouble + (if (rnd.nextBoolean()) 0.5 else 0.0)
      (g, v)
    }
    val df = rows.toDF("g", "v")
    val got = Quantiles.grouped(df, Seq("g"), "v",
        Seq(0.1, 0.5, 0.9), Seq("a", "b", "c"))
      .collect().map(r => r.getString(0) ->
        (r.getDouble(1), r.getDouble(2), r.getDouble(3))).toMap
    val want = df.groupBy("g").agg(
        org.apache.spark.sql.functions.expr("percentile(v, 0.1D)"),
        org.apache.spark.sql.functions.expr("percentile(v, 0.5D)"),
        org.apache.spark.sql.functions.expr("percentile(v, 0.9D)"))
      .collect().map(r => r.getString(0) ->
        (r.getDouble(1), r.getDouble(2), r.getDouble(3))).toMap
    assert(got == want)
  }
}
