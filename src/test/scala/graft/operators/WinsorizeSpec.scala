package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.functions._

import java.math.{BigDecimal => JBD, RoundingMode}

class WinsorizeSpec extends SparkSpec {

  private def snap(d: Double): JBD =
    JBD.valueOf(d).setScale(6, RoundingMode.HALF_UP)

  /** Sequential reference: sort, interpolate quantile_cont, round6 the
    * cutoffs, clip, decimal-sum — the oracle's arithmetic verbatim.
    */
  private def ref(vals: Seq[Double], pl: Double, ph: Double)
      : (Double, Double, Long, Long, Double) = {
    val s = vals.sorted.toArray
    val n = s.length
    def q(p: Double): Double = {
      val pos = p * (n - 1)
      val lo = math.floor(pos).toInt; val hi = math.ceil(pos).toInt
      if (lo == hi) s(lo) else (hi - pos) * s(lo) + (pos - lo) * s(hi)
    }
    val c1 = Quantiles.round6(q(pl)); val c2 = Quantiles.round6(q(ph))
    val nLow = s.count(_ < c1).toLong
    val nHigh = s.count(_ > c2).toLong
    val sum = s.foldLeft(JBD.ZERO)((acc, v) =>
      acc.add(snap(math.max(math.min(v, c2), c1))))
    (c1, c2, nLow, nHigh, sum.doubleValue)
  }

  /** Sequential (round6 median, round6 MAD) — a14's contract. */
  private def refMad(vals: Seq[Double]): (Double, Double) = {
    val s = vals.sorted.toArray
    val n = s.length
    def q(xs: Array[Double], p: Double): Double = {
      val pos = p * (n - 1)
      val lo = math.floor(pos).toInt; val hi = math.ceil(pos).toInt
      if (lo == hi) xs(lo) else (hi - pos) * xs(lo) + (pos - lo) * xs(hi)
    }
    val med = Quantiles.round6(q(s, 0.5))
    val dev = s.map(v => math.abs(v - med)).sorted
    (med, Quantiles.round6(q(dev, 0.5)))
  }

  private def run(vals: Seq[Double], pl: Double, ph: Double,
      leafLimit: Long = 1L << 16)
      : (Double, Double, Long, Long, Double) = {
    import spark.implicits._
    val row = Winsorize.winsorizedStats(spark,
      vals.toDF("v").repartition(5), "v", pl, ph, leafLimit).head()
    (row.getDouble(0), row.getDouble(1), row.getLong(2), row.getLong(3),
      row.getDouble(4))
  }

  test("fused arm matches the percentiles+clip reference on lineitem") {
    val li = graft.Tables.lineitem(spark, sfDir)
    val vals = li.select(col("l_extendedprice").cast("double"))
      .collect().map(_.getDouble(0)).toSeq
    val got = {
      val row = Winsorize.winsorizedStats(spark, li, "l_extendedprice",
        0.01, 0.99).head()
      (row.getDouble(0), row.getDouble(1), row.getLong(2), row.getLong(3),
        row.getDouble(4))
    }
    assert(got == ref(vals, 0.01, 0.99))
  }

  test("seeded random shapes: negatives, ties, skew, subnormal-ish") {
    val rnd = new scala.util.Random(42)
    val shapes: Seq[Seq[Double]] = Seq(
      Seq.fill(2000)(rnd.nextDouble() * 200 - 100),          // signed uniform
      Seq.fill(2000)((rnd.nextInt(7) - 3).toDouble),          // heavy ties
      Seq.fill(2000)(math.exp(rnd.nextGaussian() * 6)),       // log-normal skew
      Seq.fill(500)(rnd.nextInt(100) / 100.0) ++
        Seq.fill(500)(-rnd.nextInt(100) / 100.0) ++ Seq(0.0), // mixed + zero
      Seq.fill(300)(rnd.nextDouble() * 1e-300))               // tiny magnitudes
    for ((vals, i) <- shapes.zipWithIndex; (pl, ph) <- Seq((0.01, 0.99), (0.1, 0.9), (0.0, 1.0)))
      assert(run(vals, pl, ph) == ref(vals, pl, ph),
        s"shape $i diverged at ($pl, $ph)")
  }

  test("tiny inputs: single row and two distinct values") {
    assert(run(Seq(7.25), 0.01, 0.99) == ref(Seq(7.25), 0.01, 0.99))
    assert(run(Seq(1.0, 2.0), 0.25, 0.75) == ref(Seq(1.0, 2.0), 0.25, 0.75))
  }

  test("dense brackets narrow with one histogram pass and stay exact") {
    val rnd = new scala.util.Random(7)
    val vals = Seq.fill(3000)(rnd.nextDouble() * 10)
    // leafLimit=4 forces every bucket-span over the gate; the 4096-bin
    // narrowing pass shrinks each span to a few rows (sf1
    // l_extendedprice's p99 bucket is denser than the default gate)
    assert(run(vals, 0.05, 0.95, leafLimit = 4) == ref(vals, 0.05, 0.95))
  }

  test("piles of near-equal values narrow to single-valued spans, exact") {
    // two distinct values 1e-9 apart share a log bucket: one narrowing
    // pass puts each 2000-row pile in its own bin, and a single-valued
    // span leafs however large its population (leafLimit=4)
    val vals = Seq.fill(2000)(1.0) ++ Seq.fill(2000)(1.0 + 1e-9) ++
      Seq.fill(100)(5.0)
    assert(run(vals, 0.25, 0.75, leafLimit = 4) == ref(vals, 0.25, 0.75))
  }

  test("multi-pass narrowing keeps winsorize and MAD exact") {
    import spark.implicits._
    // 4000 values one ulp apart plus a tail at 1.005, all one log bucket:
    // the dense ranks need two equal-width passes under leafLimit 16, and
    // the deviation round a log pass (its derived span starts at 0) then
    // an equal-width one
    val u = math.ulp(1.0)
    val vals = Seq.tabulate(4000)(i => 1.0 + i * u) ++ Seq.fill(1000)(1.005)
    for ((pl, ph) <- Seq((0.1, 0.79), (0.25, 0.9)))
      assert(run(vals, pl, ph, leafLimit = 16) == ref(vals, pl, ph),
        s"diverged at ($pl, $ph)")
    val base = Quantiles.projected(vals.toDF("v").repartition(5), "v")
    val (m, md) = Quantiles.medianAndMad(base, Quantiles.round6,
      leafLimit = 16)
    assert((m, Quantiles.round6(md)) == refMad(vals))
  }

  test("medianAndMad matches the sequential reference (incl. narrowing)") {
    import spark.implicits._
    val rnd = new scala.util.Random(19)
    val shapes: Seq[Seq[Double]] = Seq(
      Seq.fill(2001)(rnd.nextDouble() * 200 - 100),
      Seq.fill(2000)((rnd.nextInt(5) - 2).toDouble), // heavy ties
      Seq.fill(1999)(math.exp(rnd.nextGaussian() * 4)),
      Seq(42.0), Seq(1.0, 2.0))
    for ((vals, i) <- shapes.zipWithIndex;
        limit <- Seq(1L << 16, 8L)) { // 8 forces the narrowing passes
      val base = Quantiles.projected(
        vals.toDF("v").repartition(5), "v")
      val (m, md) = Quantiles.medianAndMad(base, Quantiles.round6,
        leafLimit = limit)
      val want = refMad(vals)
      assert((m, Quantiles.round6(md)) == want,
        s"shape $i limit $limit: ${(m, md)} vs $want")
    }
  }

  test("exact over a projection: quantiles and probe ranks are exact") {
    import spark.implicits._
    val rnd = new scala.util.Random(23)
    val vals = Seq.fill(3001)(math.rint(rnd.nextDouble() * 1000) / 4)
    val s = vals.sorted.toArray
    def q(p: Double): Double = {
      val pos = p * (s.length - 1)
      val lo = math.floor(pos).toInt; val hi = math.ceil(pos).toInt
      if (lo == hi) s(lo) else (hi - pos) * s(lo) + (pos - lo) * s(hi)
    }
    val probes = Seq(s(1500), -5.0, 2000.0, s(0), s.last, 333.333)
    val base = Quantiles.projected(vals.toDF("v").repartition(5), "v")
    val (qs, ranks, n) = Quantiles.exact(base, Seq(0.01, 0.5, 0.99), probes)
    assert(n == vals.length)
    assert(qs == Seq(q(0.01), q(0.5), q(0.99)))
    assert(ranks == probes.map(x => vals.count(_ <= x).toLong),
      "probe ranks must equal exact count(v <= x)")
  }

  test("non-finite values are rejected loudly") {
    intercept[IllegalArgumentException] {
      run(Seq(1.0, Double.NaN, 3.0), 0.1, 0.9)
    }
    intercept[IllegalArgumentException] {
      run(Seq(1.0, Double.PositiveInfinity), 0.1, 0.9)
    }
  }

  test("empty input is rejected") {
    intercept[Exception] { run(Seq.empty[Double], 0.1, 0.9) }
  }

  test("exchange arm (many partitions) agrees with the few-partition arm") {
    import spark.implicits._
    val rnd = new scala.util.Random(11)
    val vals = Seq.fill(5000)(rnd.nextDouble() * 1000 - 200)
    val wide = Winsorize.winsorizedStats(spark,
      vals.toDF("v").repartition(100), "v", 0.02, 0.98).head()
    val got = (wide.getDouble(0), wide.getDouble(1), wide.getLong(2),
      wide.getLong(3), wide.getDouble(4))
    assert(got == ref(vals, 0.02, 0.98))
  }
}
