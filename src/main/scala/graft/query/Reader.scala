package graft.query

import graft.lake.Lake
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Typed read facade — SURVEY.md §3.3 (read/_parquet_reader.py:36-165,
  * read/precios_reader.py:21-253, db_utils.py:224-301).
  *
  * The query surface the reference's NL layer generates: partition-pruned
  * date-range + market(+id) scans, precios×volumenes equi-joins on
  * (datetime_utc, id_mercado), UTC↔Madrid at the display edge, and rolling
  * windows. All plain Spark SQL over the lake.
  */
object Reader {

  final case class UnknownMarket(m: String)
    extends IllegalArgumentException(s"unknown mercado: $m")

  /** market folder → valid id set (read/market_map.json equivalent). */
  val MarketIds: Map[String, Seq[Int]] = Map(
    "diario" -> Seq(1), "intra" -> Seq(2, 3, 4, 5, 6, 7, 8),
    "secundaria" -> Seq(9, 10), "terciaria" -> Seq(11, 12), "rr" -> Seq(13))

  /** Validated, partition-pruned precios scan (S11 + F1). */
  def precios(spark: SparkSession, lakePath: String, mercado: String,
      ids: Seq[Int], from: String, to: String): DataFrame = {
    val valid = MarketIds.getOrElse(mercado, throw UnknownMarket(mercado))
    val bad = ids.filterNot(valid.contains)
    require(bad.isEmpty, s"ids $bad not valid for $mercado (valid: $valid)")
    Lake.read(spark, lakePath, Some(mercado),
      if (ids.isEmpty) valid else ids, Some(from), Some(to))
  }

  /** Regulatory-date indicator selection — the reference picks which ESIOS
    * indicator (and hence which stored series) answers a price query based
    * on the date: intra-session reduction on 2024-06-13 (7→3 sessions),
    * secundaria dual-price from 2024-11-20, terciaria single-price from
    * 2024-12-10. ref: read/precios_reader.py:140-227,
    * configs/esios_config.py:126-151.
    */
  def indicatorFor(mercado: String, date: java.time.LocalDate): Seq[Int] = {
    val intraReduction = java.time.LocalDate.parse("2024-06-13")
    val secundariaDual = java.time.LocalDate.parse("2024-11-20")
    val terciariaSingle = java.time.LocalDate.parse("2024-12-10")
    mercado match {
      case "diario" => Seq(600)
      case "intra" =>
        if (date.isBefore(intraReduction)) Seq(612, 613, 614, 615, 616, 617, 618)
        else Seq(612, 613, 614)
      case "secundaria" =>
        if (date.isBefore(secundariaDual)) Seq(634) else Seq(634, 2130)
      case "terciaria" =>
        if (date.isBefore(terciariaSingle)) Seq(676, 677) else Seq(2197)
      case m => throw UnknownMarket(m)
    }
  }

  /** Multi-market scan — the reference's NL layer emits
    * `(mercado='diario' AND id_mercado=1) OR (mercado='intra' AND
    * id_mercado IN (2,3))` shapes over the hive layout
    * (read/natlanguage_duckdb_queries.py:284-293). The OR lands on
    * partition columns, so directory pruning still applies per disjunct.
    */
  def preciosMulti(spark: SparkSession, lakePath: String,
      markets: Map[String, Seq[Int]], from: String, to: String): DataFrame = {
    require(markets.nonEmpty, "at least one market required")
    val pred = markets.map { case (m, ids) =>
      val valid = MarketIds.getOrElse(m, throw UnknownMarket(m))
      val bad = ids.filterNot(valid.contains)
      require(bad.isEmpty, s"ids $bad not valid for $m (valid: $valid)")
      org.apache.spark.sql.functions.col("mercado") === m &&
        org.apache.spark.sql.functions.col("id_mercado")
          .isin((if (ids.isEmpty) valid else ids): _*)
    }.reduce(_ || _)
    Lake.read(spark, lakePath, None, Nil, Some(from), Some(to)).filter(pred)
  }

  /** S12 analog — expose a lake dataset as a SQL view so free-form
    * (NL-generated) Spark SQL runs against the same pruned scans the typed
    * facade uses; the reference's NL layer targets DuckDB `read_parquet`
    * the same way (natlanguage_duckdb_queries.py:113-170).
    */
  def registerView(spark: SparkSession, lakePath: String, view: String): Unit =
    spark.read.parquet(lakePath).createOrReplaceTempView(view)

  /** J9 — the prescribed precios×volumenes CTE join shape. `joinType`
    * "left_outer" keeps unpriced/unmatched hours with null volumenes and
    * null importe (the late-volumenes case of the reference's re-download
    * loop, processed_file_utils.py:112-131).
    */
  def joinPreciosVolumenes(precios: DataFrame, volumenes: DataFrame,
      joinType: String = "inner"): DataFrame =
    precios.join(volumenes, Seq("datetime_utc", "id_mercado"), joinType)
      .withColumn("importe", col("precio") * col("volumenes"))

  /** W11 — 24-slot rolling mean over an ordered series, per market. */
  def rollingAvg(df: DataFrame, valueCol: String, slots: Int = 24): DataFrame = {
    val w = Window.partitionBy("id_mercado").orderBy("datetime_utc")
      .rowsBetween(-(slots - 1), 0)
    df.withColumn(s"${valueCol}_rolling", avg(col(valueCol)).over(w))
  }

  /** Display-edge Madrid local time (TZ rule: filter in UTC, show local). */
  def withMadridTime(df: DataFrame): DataFrame =
    df.withColumn("datetime_local",
      from_utc_timestamp(col("datetime_utc"), graft.time.MadridTime.Zone))
}
