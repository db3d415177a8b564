package graft.transform

import java.time.LocalDate
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Date-range × market driver loop — the shape of the reference's daily
  * DAG tasks (dags/ESIOS/esios_precios_etl_dag.py,
  * dags/i90/i90_volumenes_etl_dag.py:30-39) made a library call: each
  * (day, market) leg runs independently — a failing leg is recorded and
  * the remaining legs still run, as the reference's market loop does
  * (transform/esios_transform.py:585-633) — statuses land in a
  * LEDGER the next run consults, and a retry pass re-executes only the
  * failed legs. Idempotence comes from the lake's keyed keep-last merge
  * (S7/A4): re-processing a leg overwrites its own rows and nothing else,
  * so "retry failed" needs no compensation logic.
  *
  * At scale the loop is a DRIVER-side iteration over O(days×markets)
  * legs, each of which is a full distributed job — the parallelism lives
  * inside the legs, not across them (the reference's DAG runs them as
  * sequential tasks for quota reasons; a cluster can submit legs
  * concurrently from separate threads if the source allows).
  */
object EtlRunner {

  final case class LegStatus(day: String, market: String, ok: Boolean,
      rows: Long, error: String)

  /** Run `leg` for every (day, market); a leg returns its row count. */
  def run(days: Seq[LocalDate], markets: Seq[String])
      (leg: (LocalDate, String) => Long): Seq[LegStatus] =
    runLegs(for (d <- days; m <- markets) yield (d, m))(leg)

  /** Run `leg` for EXACTLY the given (day, market) pairs — the retry
    * companion of [[failedLegs]]: failures spanning multiple days AND
    * markets re-execute only the failed pairs, not the days×markets
    * cross product a `run(days, markets)` retry would rebuild from them
    * (ADVICE r11: `failed.map(_._1).distinct × failed.map(_._2).distinct`
    * re-runs healthy legs).
    */
  def runLegs(legs: Seq[(LocalDate, String)])
      (leg: (LocalDate, String) => Long): Seq[LegStatus] =
    for ((d, m) <- legs) yield
      scala.util.Try(leg(d, m)) match {
        case scala.util.Success(n) => LegStatus(d.toString, m, ok = true, n, "")
        case scala.util.Failure(e) => LegStatus(d.toString, m, ok = false, 0L,
          Option(e.getMessage).getOrElse(e.getClass.getName))
      }

  /** Ledger as a DataFrame (for persisting next to the dataset). */
  def ledger(spark: SparkSession, statuses: Seq[LegStatus]): DataFrame = {
    import spark.implicits._
    statuses.toDF()
  }

  /** Legs a retry pass should re-run: failed in the PREVIOUS ledger.
    * Ledger sizes are days×markets (metadata), so the collect is bounded.
    */
  def failedLegs(prev: DataFrame): Seq[(LocalDate, String)] =
    prev.filter(!col("ok")).select("day", "market").distinct()
      .collect().map(r => (LocalDate.parse(r.getString(0)), r.getString(1)))
      .toSeq.sortBy(t => (t._1.toString, t._2))

  /** Merge a retry's statuses over the previous ledger: retried legs
    * replace their old row (keep-last at the (day, market) grain — the
    * same precedence rule as the lake), untouched legs carry forward.
    */
  def mergeLedgers(prev: Seq[LegStatus], retry: Seq[LegStatus]): Seq[LegStatus] = {
    val retried = retry.map(s => (s.day, s.market)).toSet
    prev.filterNot(s => retried((s.day, s.market))) ++ retry
  }
}
