package energybench

import java.time.LocalDate
import java.util.SplittableRandom

/** The lake_ops workload's seeded data and its in-memory model of the
  * lake: a multi-month precios / OMIE / I90 lake at the 15-minute grain,
  * the fixed sequence of daily revisions applied to it, and every
  * expected read result, all computed here without Spark.
  *
  * Values are stored as integers (cents for prices, tenths for volumes)
  * so the model's sums are exact; `Int.MinValue` marks an absent row.
  */
final class LakeModel(val seed: Long, val scale: LakeModel.Scale) extends Serializable {
  import LakeModel._

  /** The 20th of a seeded month: the lake holds the end of one month and
    * the whole next one, where the recent days the operations hit live.
    */
  val start: LocalDate =
    LocalDate.of(2023 + Math.floorMod(seed, 2L).toInt, 1 + Math.floorMod(seed / 2, 10L).toInt, 20)
  val nDays: Int = scale.days
  val days: IndexedSeq[LocalDate] = (0 until nDays).map(start.plusDays(_))
  val quarters: Array[Int] = days.map(Madrid.quarters).toArray
  /** First quarter of each day in the flattened time axis. */
  val qOff: Array[Int] = quarters.scanLeft(0)(_ + _).toArray
  val slots: Int = qOff(nDays)
  val dayStartSec: Array[Long] = days.map(d => Madrid.dayStart(d).getEpochSecond).toArray

  val uofs: IndexedSeq[String] = (0 until scale.uofs).map(i =>
    if (i < 2) s"UNAME$i" else f"UOF$i%04d")
  val ups: IndexedSeq[String] = (0 until scale.ups).map(i =>
    if (i < 2) s"UNAME$i" else f"UP$i%04d")

  val omie = new Array[Int](scale.uofs * slots)
  val i90 = new Array[Int](scale.ups * slots)
  val precios = new Array[Int](PreciosIds.length * slots)

  /** UPs whose I90 programme mirrors an OMIE unit: the pairs linking finds. */
  val mirrors: Map[Int, Int] = {
    val r = new SplittableRandom(seed * 7 + 3)
    val pool = (2 until scale.uofs).toArray
    for (i <- pool.indices.reverse if i > 0) {
      val j = r.nextInt(i + 1)
      val t = pool(i); pool(i) = pool(j); pool(j) = t
    }
    ((0 until 2).map(i => i -> i) ++
      (2 until scale.mirrors).map(i => i -> pool(i - 2))).toMap
  }

  locally {
    val r = new SplittableRandom(seed * 1000003L + 101L)
    java.util.Arrays.fill(omie, Absent)
    java.util.Arrays.fill(i90, Absent)
    val sign = Array.fill(scale.uofs)(if (r.nextBoolean()) 1 else -1)
    for (d <- 0 until nDays) {
      for (u <- 0 until scale.uofs if r.nextDouble() < 0.95) {
        // the two UNAME units share one profile: an ambiguous hash group
        // that only name resolution can split
        val src = if (u == 1) 0 else u
        for (q <- 0 until quarters(d)) {
          val v = if (src != u && omie(idx(src, d, q)) != Absent) omie(idx(src, d, q))
            else sign(u) * r.nextInt(1, 20000)
          omie(idx(u, d, q)) = v
        }
      }
      for (p <- 0 until scale.ups) mirrors.get(p) match {
        case Some(u) =>
          for (q <- 0 until quarters(d)) i90(idx(p, d, q)) = omie(idx(u, d, q))
        case None if r.nextDouble() < 0.95 =>
          val s = if (r.nextBoolean()) 1 else -1
          for (q <- 0 until quarters(d)) i90(idx(p, d, q)) = s * r.nextInt(1, 20000)
        case None =>
      }
      for (m <- PreciosIds.indices; q <- 0 until quarters(d))
        precios(m * slots + qOff(d) + q) = r.nextInt(1000, 20000)
    }
  }

  def idx(entity: Int, day: Int, q: Int): Int = entity * slots + qOff(day) + q

  def copy(): LakeModel = {
    val m = new LakeModel(seed, scale)
    System.arraycopy(omie, 0, m.omie, 0, omie.length)
    System.arraycopy(i90, 0, m.i90, 0, i90.length)
    System.arraycopy(precios, 0, m.precios, 0, precios.length)
    m
  }

  def liveRows: Long =
    omie.count(_ != Absent).toLong + i90.count(_ != Absent) + precios.length

  /** Epoch seconds of quarter q of day d. */
  def quarterSec(d: Int, q: Int): Long = dayStartSec(d) + q * 900L

  /** Bulk-load rows of one day: prices of the given ids… */
  def preciosRows(ids: Seq[Int], d: Int): Seq[org.apache.spark.sql.Row] =
    for (id <- ids; m = PreciosIds.indexOf(id); q <- 0 until quarters(d)) yield
      org.apache.spark.sql.Row(LakeOps.ts(quarterSec(d, q)), id.toByte,
        LakeOps.priceF(precios(m * slots + qOff(d) + q)), 1)

  /** …or every present unit's volumes. */
  def volumeRows(values: Array[Int], names: IndexedSeq[String], d: Int)
      : Seq[org.apache.spark.sql.Row] =
    for {
      e <- names.indices; q <- 0 until quarters(d)
      v = values(idx(e, d, q)) if v != Absent
    } yield org.apache.spark.sql.Row(LakeOps.ts(quarterSec(d, q)), names(e),
      LakeOps.volF(v), 1.toByte, 1)

  // ---- revisions -------------------------------------------------------

  /** Revision of simulated day t: one recent day of one dataset is
    * published again in full, with a seeded share of changed values and
    * the whole day of some late units. Applies it to the model and
    * returns it.
    */
  def revise(t: Int): Revision = {
    val r = new SplittableRandom(seed * 31L + t * 1009L + 7L)
    val day = nDays - 1 - math.min(geometric(r, 0.4), 6)
    val batch = t + 2
    t % 3 match {
      case 2 =>
        val (mercado, ids) = PreciosMarkets(r.nextInt(PreciosMarkets.length))
        val rows = for {
          id <- ids; m = PreciosIds.indexOf(id); q <- 0 until quarters(day)
        } yield {
          val at = m * slots + qOff(day) + q
          if (r.nextDouble() < 0.2) precios(at) = r.nextInt(1000, 20000)
          (m, q, precios(at))
        }
        Revision(Precios, mercado, day, batch, rows, rows.length)
      case k =>
        val (ds, values, n) =
          if (k == 0) (Omie, omie, scale.uofs) else (I90, i90, scale.ups)
        var superseded = 0
        val rows = (0 until n).flatMap { e =>
          val present = values(idx(e, day, 0)) != Absent
          if (present) {
            val sign = Integer.signum(values(idx(e, day, 0)))
            (0 until quarters(day)).map { q =>
              if (r.nextDouble() < 0.05) values(idx(e, day, q)) = sign * r.nextInt(1, 20000)
              superseded += 1
              (e, q, values(idx(e, day, q)))
            }
          } else if (r.nextDouble() < 0.5) {
            // a late unit: its whole day arrives now
            val sign = if (r.nextBoolean()) 1 else -1
            (0 until quarters(day)).map { q =>
              val v = sign * r.nextInt(1, 20000)
              values(idx(e, day, q)) = v
              (e, q, v)
            }
          } else Nil
        }
        Revision(ds, "diario", day, batch, rows, superseded)
    }
  }

  // ---- expected read results ------------------------------------------

  private def priceF(c: Int): Float = LakeOps.priceF(c)
  private def volF(t: Int): Float = LakeOps.volF(t)

  /** (rows, sum of precio) over ids and days a..b. */
  def preciosScan(ids: Seq[Int], a: Int, b: Int): (Long, Double) = {
    var n = 0L
    var s = 0.0
    for (id <- ids; m = PreciosIds.indexOf(id); d <- a to b; q <- 0 until quarters(d)) {
      n += 1
      s += priceF(precios(m * slots + qOff(d) + q)).toDouble
    }
    (n, s)
  }

  /** Per local day: (rows, sum of precio × volumenes) of diario id 1
    * prices joined with every OMIE unit's volume.
    */
  def dailyImporte(a: Int, b: Int): Seq[(LocalDate, Long, Double)] =
    (a to b).map { d =>
      var n = 0L
      var s = 0.0
      for (q <- 0 until quarters(d)) {
        val p = priceF(precios(qOff(d) + q))
        for (u <- 0 until scale.uofs) {
          val v = omie(idx(u, d, q))
          if (v != Absent) { n += 1; s += (p * volF(v)).toDouble }
        }
      }
      (days(d), n, s)
    }

  /** Per id: (rows, sum of the 24-row rolling mean of precio). */
  def rolling(ids: Seq[Int], a: Int, b: Int, slotsBack: Int = 24): Map[Int, (Long, Double)] =
    ids.map { id =>
      val m = PreciosIds.indexOf(id)
      val xs = (qOff(a) until qOff(b + 1)).map(i => priceF(precios(m * slots + i)).toDouble)
      val total = xs.indices.map { i =>
        val lo = math.max(0, i - slotsBack + 1)
        xs.slice(lo, i + 1).sum / (i + 1 - lo)
      }.sum
      id -> (xs.length.toLong, total)
    }.toMap

  /** OMIE volumes (as doubles) of days a..b, with their unit. */
  def omieValues(a: Int, b: Int): Seq[(Int, Double)] =
    for {
      u <- 0 until scale.uofs; d <- a to b; q <- 0 until quarters(d)
      v = omie(idx(u, d, q)) if v != Absent
    } yield (u, volF(v).toDouble)

  /** Per unit: interpolated quantiles at ps (percentile_cont). */
  def quantiles(a: Int, b: Int, ps: Seq[Double]): Map[String, Seq[Double]] =
    omieValues(a, b).groupBy(_._1).map { case (u, vs) =>
      uofs(u) -> ps.map(p => Stats.quantile(vs.map(_._2), p))
    }

  /** (p_lo cutoff, p_hi cutoff, n below, n above, clipped sum). */
  def winsorized(a: Int, b: Int, pLo: Double, pHi: Double)
      : (Double, Double, Long, Long, Double) = {
    val vs = omieValues(a, b).map(_._2)
    def round6(x: Double) = java.math.BigDecimal.valueOf(x)
      .setScale(6, java.math.RoundingMode.HALF_UP).doubleValue()
    val c1 = round6(Stats.quantile(vs, pLo))
    val c2 = round6(Stats.quantile(vs, pHi))
    val sum = vs.map(v => BigDecimal(math.min(math.max(v, c1), c2))
      .setScale(6, BigDecimal.RoundingMode.HALF_UP)).sum
    (c1, c2, vs.count(_ < c1).toLong, vs.count(_ > c2).toLong, sum.toDouble)
  }

  /** UP ↔ UOF links of day d under the linking rules: equal hourly
    * profiles match when the profile is unique on both sides, or when
    * the names are equal; any unit matched twice is dropped.
    */
  def links(d: Int): Set[(String, String)] = {
    def profiles(values: Array[Int], n: Int): Map[Int, Seq[Int]] =
      (0 until n).filter(e => values(idx(e, d, 0)) != Absent).map { e =>
        e -> (0 until quarters(d) / 4).map(h =>
          (0 until 4).map(k => values(idx(e, d, h * 4 + k))).sum)
      }.toMap
    val pu = profiles(i90, scale.ups).groupBy(_._2).map { case (h, es) => h -> es.keys.toSeq }
    val po = profiles(omie, scale.uofs).groupBy(_._2).map { case (h, es) => h -> es.keys.toSeq }
    val matched = pu.toSeq.flatMap { case (h, us) =>
      po.get(h).toSeq.flatMap { os =>
        for (u <- us; o <- os if (us.length == 1 && os.length == 1) || ups(u) == uofs(o))
          yield (ups(u), uofs(o))
      }
    }
    val upN = matched.groupBy(_._1).map { case (k, v) => k -> v.length }
    val uofN = matched.groupBy(_._2).map { case (k, v) => k -> v.length }
    matched.filter { case (u, o) => upN(u) == 1 && uofN(o) == 1 }.toSet
  }
}

object LakeModel {
  final case class Scale(days: Int, uofs: Int, ups: Int, mirrors: Int)

  /** A revision batch: rows (unit or precios-id index, quarter, value) of
    * one day of one dataset, and how many of them replaced an existing row.
    */
  final case class Revision(dataset: String, mercado: String, day: Int,
      batch: Int, rows: Seq[(Int, Int, Int)], superseded: Int)

  val Absent: Int = Int.MinValue
  val Precios = "precios"
  val Omie = "volumenes_omie"
  val I90 = "volumenes_i90"

  val PreciosMarkets: Seq[(String, Seq[Int])] = Seq("diario" -> Seq(1),
    "intra" -> Seq(2, 3, 4))
  val PreciosIds: Seq[Int] = PreciosMarkets.flatMap(_._2)

  def geometric(r: SplittableRandom, p: Double): Int = {
    var k = 0
    while (r.nextDouble() >= p) k += 1
    k
  }
}
