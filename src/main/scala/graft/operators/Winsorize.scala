package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}

import java.math.{BigDecimal => JBD}

/** Winsorized moments in TWO distributed passes — the fused form of
  * "exact p-low/p-high cutoffs, then clip and aggregate" that a11 needs,
  * over the [[Quantiles]] log-bucket kernel.
  *
  * A separate clip scan after the quantiles would pay a third job; at
  * bench scale each job carries a fixed scheduling floor, so the constant
  * factor — not the asymptotics — made a11 the board's worst real-work
  * ratio (r11: 10×). Instead the kernel's region scan IS the clip pass:
  * it value-counts the two cutoff leaves — giving the exact order
  * statistics — and simultaneously aggregates every non-leaf region's
  * count and DECIMAL(28,6) sum. The clipped sum then assembles DRIVER-side
  * by exact decimal arithmetic: clipped tails contribute cutoff×count,
  * leaf values contribute their snapped value×count, the middle
  * contributes its distributed decimal sum — bit-identical to
  * SUM(CAST(greatest(least(v, p99), p01) AS DECIMAL(28,6))) because every
  * addend is the same snapped decimal.
  *
  * Each cutoff leaf widens by [[leafEps]] so the round6-snapped cutoff
  * stays inside it; the leaf then also collects the values within that
  * epsilon of the rank span, beyond the kernel's `leafLimit` rows.
  */
object Winsorize {

  /** One row: (pLow cutoff, pHigh cutoff, n clipped below, n clipped
    * above, winsorized decimal(28,6) sum as double). Cutoffs are
    * round6-snapped before clipping, matching the a11/oracle contract.
    */
  def winsorizedStats(spark: SparkSession, df: DataFrame, value: String,
      pLow: Double, pHigh: Double,
      leafLimit: Long = 1L << 16): DataFrame = {
    require(pLow >= 0 && pLow <= 1 && pHigh >= 0 && pHigh <= 1 && pLow <= pHigh,
      "probabilities in [0,1], pLow <= pHigh")
    // No persist: both passes re-decode the (pruned, single-column)
    // source. Measured at sf1 (r13 probe): building the in-memory
    // columnar cache costs ~2× what the second decode costs, so caching
    // LOSES on a two-pass operator at local scale.
    val x = Quantiles.locate(Quantiles.projected(df, value),
      "winsorize of empty input")
    val leaves = Quantiles.mergeIntervals(Seq(pLow, pHigh).map { p =>
      val (lo, hi) = x.leaf(p, leafLimit)
      val eps = leafEps(lo, hi)
      (lo - eps, hi + eps)
    })
    val r = x.scan(leaves, needSums = true)
    def cutoff(p: Double) =
      Quantiles.round6(Quantiles.interpolate(p, x.n, r.valueAt))
    val c1 = cutoff(pLow); val c2 = cutoff(pHigh)
    // the snapped cutoffs must sit inside leaf intervals, else region
    // membership vs cutoff comparisons could disagree — the epsilons
    // guarantee it; assert the invariant rather than trust it
    require(leaves.exists(l => c1 > l._1 && c1 < l._2) &&
      leaves.exists(l => c2 > l._1 && c2 < l._2),
      s"cutoffs ($c1, $c2) escaped their leaf intervals $leaves")

    // ---- driver-side exact assembly ----
    var nLow = 0L; var nHigh = 0L
    var sumBD = JBD.ZERO
    for (t <- 0 to r.last) {
      if (t % 2 == 0) {
        val cnt = r.blockCnt(t)
        if (cnt > 0) {
          if (t == 0) nLow += cnt                 // below first leaf
          else if (t == r.last) nHigh += cnt      // above last leaf
          else sumBD = sumBD.add(r.blockSum(t))   // strictly between
        }
      } else for ((value, c) <- r.leafEntries(t)) {
        if (value < c1) nLow += c
        else if (value > c2) nHigh += c
        else sumBD = sumBD.add(Quantiles.snap(value).multiply(JBD.valueOf(c)))
      }
    }
    sumBD = sumBD.add(Quantiles.snap(c1).multiply(JBD.valueOf(nLow)))
      .add(Quantiles.snap(c2).multiply(JBD.valueOf(nHigh)))

    import spark.implicits._
    Seq((c1, c2, nLow, nHigh, sumBD.doubleValue))
      .toDF("p01", "p99", "n_clipped_low", "n_clipped_high", "sum_clipped")
  }

  /** Widening that keeps the round6-snapped value of anything in [lo, hi]
    * inside the interval: round6 moves a value by at most 5e-7 plus the
    * decimal round trip's few ulps.
    */
  private def leafEps(lo: Double, hi: Double): Double =
    math.max(1e-5, 8 * math.ulp(math.max(math.abs(lo), math.abs(hi))))
}
