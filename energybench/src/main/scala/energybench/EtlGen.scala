package energybench

import java.time.{Instant, LocalDate}
import java.util.SplittableRandom

/** Seeded raw zone for the backfill workload: ESIOS precios rows, OMIE
  * diario day files and I90 wide sheets, for two three-day windows around
  * the spring-forward (92-quarter) and fall-back (100-quarter) Madrid
  * days of a seeded year. Alongside the raw inputs it keeps its own model
  * of what the lake must hold afterwards, computed without Spark.
  */
object EtlGen {

  /** ESIOS indicator → (lake market folder, id_mercado). */
  val Indicators: Seq[(Int, String, Int)] = Seq((600, "diario", 1)) ++
    (612 to 618).zipWithIndex.map { case (ind, i) => (ind, "intra", i + 2) } :+
    ((1782, "secundaria", 9))

  final case class Leg(id: Int, sentido: String, redespacho: String)

  /** Rows tagged by the engine's default I90 market legs… */
  val Legs: Seq[Leg] = Seq(Leg(3, "Subir", "Terciaria"), Leg(4, "Bajar", "Terciaria"),
    Leg(10, "Subir", "UPLPVPV"), Leg(11, "Bajar", "UPLPVPCBN"))
  /** …and a row no leg matches, which the transform must drop. */
  val OffLeg: Leg = Leg(-1, "Subir", "Secundaria")

  val HourCols: Seq[String] =
    (0 until 24).map(h => f"$h%02d-${h + 1}%02d") ++ Seq("02-03a", "02-03b")
  val QuarterCols: Seq[String] = (1 to 100).map(_.toString)
  val I90ValueCols: Seq[String] = HourCols ++ QuarterCols
  val I90IdCols: Seq[String] =
    Seq("Unidad de Programación", "fecha", "Sentido", "Redespacho", "granularity")

  final case class EsiosRow(ts: Instant, value: Double, indicator: Int,
      gran: String, geo: String)
  final case class OmieFile(day: LocalDate, quarterForm: Boolean, bytes: Array[Byte])
  final case class I90Row(up: String, fecha: LocalDate, sentido: String,
      redespacho: String, gran: String, values: Array[java.lang.Double])

  /** What the lake must hold: rows and value sums per (dataset,
    * id_mercado), and the quarter count of each DST day per precios id.
    */
  final case class Expected(rows: Map[(String, Int), Long],
      sums: Map[(String, Int), Double], dstQuarters: Map[LocalDate, Int]) {
    def ++(o: Expected): Expected = Expected(
      (rows.keySet ++ o.rows.keySet).map(k =>
        k -> (rows.getOrElse(k, 0L) + o.rows.getOrElse(k, 0L))).toMap,
      (sums.keySet ++ o.sums.keySet).map(k =>
        k -> (sums.getOrElse(k, 0.0) + o.sums.getOrElse(k, 0.0))).toMap,
      dstQuarters ++ o.dstQuarters)
    def liveRows: Long = rows.values.sum
  }

  final case class Window(days: Seq[LocalDate],
      esios: Seq[(String, Seq[EsiosRow])], omie: Seq[OmieFile],
      i90: Seq[I90Row], i90Redownload: Seq[I90Row], expected: Expected,
      i90Duplicates: Long)

  /** Entity counts: the size knob of the raw zone. */
  final case class Scale(uofs: Int, ups: Int)

  def year(seed: Long): Int = 2019 + Math.floorMod(seed, 6L).toInt

  def generate(seed: Long, scale: Scale): Seq[Window] = {
    val y = year(seed)
    Seq(Madrid.springForward(y), Madrid.fallBack(y)).zipWithIndex.map {
      case (dst, w) =>
        val rng = new SplittableRandom(seed * 1000003L + w * 7919L + 17L)
        window(w, Seq(dst.minusDays(1), dst, dst.plusDays(1)), rng, scale)
    }
  }

  private def round2(v: Double): Double =
    BigDecimal(v).setScale(2, BigDecimal.RoundingMode.HALF_UP).toDouble

  private final class Acc {
    val rows = collection.mutable.Map[(String, Int), Long]()
    val sums = collection.mutable.Map[(String, Int), Double]()
    def add(ds: String, id: Int, v: Float, n: Int = 1): Unit = {
      rows((ds, id)) = rows.getOrElse((ds, id), 0L) + n
      sums((ds, id)) = sums.getOrElse((ds, id), 0.0) + n * v.toDouble
    }
  }

  private def window(w: Int, days: Seq[LocalDate], r: SplittableRandom,
      scale: Scale): Window = {
    val acc = new Acc
    // ESIOS: one granularity per (indicator, day); restricted indicators
    // also arrive for foreign geos, which the engine must filter out
    val esios = days.flatMap { d =>
      Indicators.flatMap { case (ind, _, id) =>
        val hourly = r.nextBoolean()
        val step = if (hourly) 3600L else 900L
        val n = (Madrid.quarters(d) * 900L / step).toInt
        (0 until n).flatMap { k =>
          val ts = Madrid.dayStart(d).plusSeconds(k * step)
          val v = r.nextInt(5000, 250000) / 1000.0
          acc.add("precios", id, round2(v).toFloat, if (hourly) 4 else 1)
          val gran = if (hourly) "Hora" else "Quince minutos"
          val main = EsiosRow(ts, v, ind, gran, "España")
          if (r.nextDouble() < 0.12)
            Seq(main, EsiosRow(ts, r.nextInt(5000, 250000) / 1000.0, ind, gran,
              Seq("Francia", "Portugal", "Marruecos")(r.nextInt(3))))
          else Seq(main)
        }
      }
    }.groupBy(e => Indicators.find(_._1 == e.indicator).get._2).toSeq.sortBy(_._1)

    // OMIE: both hourly (Hora) and quarter (HxQy) day files in every
    // window, the DST day in HxQy form in spring and in Hora form in fall
    val forms = if (w == 0) Seq(false, true, true) else Seq(true, false, true)
    val uofs = (0 until scale.uofs).map(i =>
      if (i % 7 == 3) f"UCÑ$i%04d" else f"UOF$i%04d")
    val seller = uofs.map(_ => r.nextBoolean())
    val omie = days.zip(forms).map { case (d, quarterForm) =>
      // a fixed share of units trades each day: run sizes stay comparable
      val active = shuffle(uofs.indices, r).take(uofs.length * 9 / 10).toSet
      omieFile(d, quarterForm, uofs, seller, active, r, acc)
    }

    // I90: per UP and day one granularity, one to four legs, sometimes an
    // unmatched row; a few rows are downloaded again with changed values
    val ups = (0 until scale.ups).map(i => f"UP$i%04d")
    val i90 = collection.mutable.ArrayBuffer[I90Row]()
    val again = collection.mutable.ArrayBuffer[I90Row]()
    var duplicates = 0L
    for (d <- days) {
      // half the units report hourly, half by quarter, each day
      val hourlyUps = shuffle(ups.indices, r).take(ups.length / 2).toSet
      for (u <- ups.indices) {
        val up = ups(u)
        val hourly = hourlyUps(u)
        val cols =
          if (hourly) Madrid.hourLabels(d).map(l => (HourCols.indexOf(l),
            Madrid.hourLabelStart(d, l)))
          else (1 to Madrid.quarters(d)).map(q => (HourCols.length + q - 1,
            Madrid.quarterStart(d, q - 1)))
        val legs = shuffle(Legs, r).take(1 + u % 3) ++ (if (u % 4 == 0) Seq(OffLeg) else Nil)
        legs.foreach { leg =>
          val vals = new Array[java.lang.Double](I90ValueCols.length)
          cols.foreach { case (c, _) => vals(c) = i90Value(r) }
          val row = I90Row(up, d, leg.sentido, leg.redespacho,
            if (hourly) "Hora" else "Quince minutos", vals)
          i90 += row
          // a re-downloaded sheet repeats its rows verbatim; the lake
          // keeps one row per key
          val repeated = r.nextDouble() < 0.06
          if (repeated) again += row
          if (leg.id > 0) cols.foreach { case (c, _) =>
            if (valid(vals(c))) {
              acc.add("volumenes_i90", leg.id, vals(c).doubleValue.toFloat)
              if (repeated) duplicates += 1
            }
          }
        }
      }
    }
    val dst = days.filter(d => Madrid.quarters(d) != 96)
      .map(d => d -> Madrid.quarters(d)).toMap
    Window(days, esios, omie, i90.toSeq, again.toSeq,
      Expected(acc.rows.toMap, acc.sums.toMap, dst), duplicates)
  }

  private def valid(v: java.lang.Double): Boolean = v != null && v.doubleValue != 0.0

  private def i90Value(r: SplittableRandom): java.lang.Double = {
    val u = r.nextDouble()
    if (u < 0.25) 0.0
    else if (u < 0.33) null
    else r.nextInt(1, 10000) / 10.0
  }

  private def shuffle[T: scala.reflect.ClassTag](xs: Seq[T], r: SplittableRandom): Seq[T] = {
    val a = xs.toArray
    for (i <- a.indices.reverse if i > 0) {
      val j = r.nextInt(i + 1)
      val t = a(i); a(i) = a(j); a(j) = t
    }
    a.toSeq
  }

  /** "1.234,5": OMIE's European decimal with thousands dots. */
  private def euro(tenths: Int): String = {
    val whole = (tenths / 10).toString.reverse.grouped(3).mkString(".").reverse
    s"$whole,${tenths % 10}"
  }

  private def omieFile(d: LocalDate, quarterForm: Boolean, uofs: Seq[String],
      seller: Seq[Boolean], active: Set[Int], r: SplittableRandom, acc: Acc): OmieFile = {
    val periods = if (quarterForm) Madrid.quarters(d) else Madrid.quarters(d) / 4
    val sb = new StringBuilder
    sb ++= s"OMIE - Mercado de electricidad;Fecha Emisión :$d - 13:00;;;;\r\n"
    sb ++= (if (quarterForm) "Fecha;Periodo;" else "Fecha;Hora;") +
      "Unidad;Tipo Oferta;Energía Compra/Venta;Ofertada (O)/Casada (C)\r\n"
    def line(p: Int, uof: String, tipo: String, tenths: Int, oc: String): Unit = {
      val period = if (quarterForm) s"H${(p - 1) / 4 + 1}Q${(p - 1) % 4 + 1}" else p.toString
      sb ++= s"$d;$period;$uof;$tipo;${euro(tenths)};$oc\r\n"
    }
    uofs.indices.foreach { u =>
      if (active(u)) (1 to periods).foreach { p =>
        val (tipo, other) = if (seller(u)) ("V", "C") else ("C", "V")
        val k = r.nextInt(1, 30000)
        line(p, uofs(u), tipo, k, "C")
        var sum = signed(tipo, k, quarterForm)
        if (r.nextDouble() < 0.25) line(p, uofs(u), tipo, r.nextInt(1, 30000), "O")
        if (r.nextDouble() < 0.08) {
          val k2 = r.nextInt(1, 30000)
          line(p, uofs(u), other, k2, "C")
          sum += signed(other, k2, quarterForm)
        }
        acc.add("volumenes_omie", 1, sum.toFloat)
      }
    }
    OmieFile(d, quarterForm, sb.toString.getBytes("ISO-8859-1"))
  }

  private def signed(tipo: String, tenths: Int, quarterForm: Boolean): Double = {
    val v = tenths / 10.0
    val s = if (tipo == "C") -v else v
    if (quarterForm) s / 4 else s
  }

  /** SHA-256 over every generated input, for the determinism self-check. */
  def digest(ws: Seq[Window]): String = {
    val md = java.security.MessageDigest.getInstance("SHA-256")
    def put(s: String): Unit = md.update(s.getBytes("UTF-8"))
    ws.foreach { w =>
      w.esios.foreach { case (m, rows) => put(m); rows.foreach(e => put(e.toString)) }
      w.omie.foreach { f => put(f.day.toString + f.quarterForm); md.update(f.bytes) }
      (w.i90 ++ w.i90Redownload).foreach { row =>
        put(Seq(row.up, row.fecha, row.sentido, row.redespacho, row.gran).mkString("|"))
        put(row.values.mkString(","))
      }
    }
    md.digest().map(b => f"$b%02x").mkString
  }
}
