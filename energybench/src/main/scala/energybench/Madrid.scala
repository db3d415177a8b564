package energybench

import java.time.{Duration, Instant, LocalDate, LocalDateTime, LocalTime, ZoneId, ZonedDateTime}
import java.time.temporal.TemporalAdjusters

/** Madrid calendar facts computed with java.time alone: the expected
  * values the benchmark checks the engine's DST handling against.
  */
object Madrid {
  val Zone: ZoneId = ZoneId.of("Europe/Madrid")

  def dayStart(d: LocalDate): Instant = d.atStartOfDay(Zone).toInstant

  def quarters(d: LocalDate): Int =
    (Duration.between(dayStart(d), dayStart(d.plusDays(1))).toMinutes / 15).toInt

  def springForward(year: Int): LocalDate =
    LocalDate.of(year, 3, 31).`with`(TemporalAdjusters.lastInMonth(java.time.DayOfWeek.SUNDAY))

  def fallBack(year: Int): LocalDate =
    LocalDate.of(year, 10, 31).`with`(TemporalAdjusters.lastInMonth(java.time.DayOfWeek.SUNDAY))

  /** The instant a quarter (0-based) of a local day starts at. */
  def quarterStart(d: LocalDate, q: Int): Instant =
    dayStart(d).plusSeconds(q * 900L)

  /** I90 hourly column labels present on a day: 23, 24 or 25 of them. */
  def hourLabels(d: LocalDate): Seq[String] = {
    val std = (0 until 24).map(h => f"$h%02d-${h + 1}%02d")
    quarters(d) match {
      case 92 => std.filterNot(_ == "02-03")
      case 100 => std.flatMap(l => if (l == "02-03") Seq("02-03a", "02-03b") else Seq(l))
      case _ => std
    }
  }

  /** The instant an I90 hourly label starts at, resolving the repeated
    * fall-back hour by its a/b suffix.
    */
  def hourLabelStart(d: LocalDate, label: String): Instant = {
    val h = label.take(2).toInt
    val local = ZonedDateTime.ofLocal(LocalDateTime.of(d, LocalTime.of(h, 0)), Zone, null)
    val z =
      if (label.endsWith("a")) local.withEarlierOffsetAtOverlap()
      else if (label.endsWith("b")) local.withLaterOffsetAtOverlap()
      else local
    z.toInstant
  }

  private val sqlFmt = java.time.format.DateTimeFormatter
    .ofPattern("yyyy-MM-dd HH:mm:ss").withZone(java.time.ZoneOffset.UTC)

  /** UTC wall-clock literal for lake range predicates. */
  def utcLiteral(i: Instant): String = sqlFmt.format(i)
}
