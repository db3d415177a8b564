package graft.transform

import graft.model.Schemas
import graft.time.MadridTime
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** ESIOS precios pipeline — SURVEY.md §3.1 (the reference's declared step
  * list in _procesador_esios.py:320-329 becomes a declarative plan):
  * geo-filter → validate-raw → rename → map-id → standardize-prices →
  * handle-granularity (hourly→15-min explode) → finalize → validate-final.
  */
object EsiosTransform {

  /** indicator → market id (config-as-data; the reference reads this from
    * MySQL `mercados_mapping`, configs/esios_config.py:61-85).
    */
  val IndicatorToMarket: Map[String, Int] = Map(
    "600" -> 1, "612" -> 2, "613" -> 3, "614" -> 4, "615" -> 5,
    "616" -> 6, "617" -> 7, "618" -> 8, "1782" -> 9)

  val RestrictedGeoIndicators: Seq[Int] =
    Seq(600, 612, 613, 614, 615, 616, 617, 618, 1782)

  /** Raw → processed precios. Input columns: datetime_utc (ts), value,
    * indicador_id, granularidad ("Hora"|"Quince minutos"), geo_name.
    */
  def transform(raw: DataFrame): DataFrame = {
    // F2 — conditional geo filter (restricted indicators must be España)
    val geo = MarketFilters.conditionalGeoFilter(raw, "indicador_id",
      RestrictedGeoIndicators, "geo_name", Seq("España"))
    // F10 rename + SC4 map-id; the fail-on-unmapped gate is folded into
    // the id_mercado expression itself (ref: _procesador_esios.py:179-184)
    // — no extra full scan of the input per run
    val mapped = MarketFilters.mapLookupStrict(
      geo.withColumnRenamed("value", "precio")
        .withColumn("indicador_id", col("indicador_id").cast(StringType)),
      "indicador_id", IndicatorToMarket)
    // SC3 — price standardization: round(2) (ref :51)
    val priced = mapped.withColumn("precio", round(col("precio"), 2))
    // W5 — hourly rows explode to the 15-min grain; quarter rows pass through
    val hourly = MadridTime.upsampleHourly(
      priced.filter(col("granularidad") === "Hora"),
      "datetime_utc", "precio", divideValue = false) // prices replicate
    val quarter = priced.filter(col("granularidad") =!= "Hora")
    // F10 finalize + F12 validate
    val fin = hourly.unionByName(quarter)
      .select("datetime_utc", "id_mercado", "precio")
    Schemas.validate(fin, Schemas.precios)
  }
}
