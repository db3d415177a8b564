package graft.transform

import graft.ingest.Ingest
import graft.model.Schemas
import graft.time.MadridTime
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** OMIE pipelines — SURVEY.md §2 F8/F9, W6-W8, A1
  * (_procesador_omie.py:34-173, 258-613, 699-831).
  * Diario/intra: matched-units filter + sign + granularity mapping + rollup.
  * Continuo (MIC): trade-grain contract parse, append-only.
  */
object OmieTransform {

  /** Diario/intra path. Input (post S4-CSV read): Fecha (date), Unidad,
    * `Energía Compra/Venta` (EU-decimal string), `Ofertada (O)/Casada (C)`,
    * `Tipo Oferta`, and either `Hora` (1-based int, hourly) or `Periodo`
    * ("HxQy", 15-min).
    */
  def transform(df: DataFrame, idMercado: Int, quarterHourly: Boolean): DataFrame = {
    // F9 — empty-row cleaning
    val clean = df.na.drop("all")
      .na.drop("all", Seq("Fecha", "Unidad"))
    // SC1 — EU decimal energy
    val parsed = clean.withColumn("volumenes",
      Ingest.parseEuropeanDecimal(col("Energía Compra/Venta")))
    // F8 — matched units only, buy side negated, ÷4 if quarter-hourly
    val signed = MarketFilters.matchedSign(parsed, "Ofertada (O)/Casada (C)",
      "Tipo Oferta", "volumenes", lit(quarterHourly))
    // W6/W7 — local index → UTC
    val timed =
      if (quarterHourly)
        signed.withColumn("datetime_utc", MadridTime.utcFromQuarterIndex(
          col("Fecha"), MadridTime.quarterIndexFromH2Q4(col("Periodo"))))
      else
        signed.withColumn("datetime_utc", MadridTime.utcFromHourIndex(
          col("Fecha"), col("Hora").cast(IntegerType)))
    // A1 — roll-up to (uof, datetime, market)
    val rolled = timed
      .withColumnRenamed("Unidad", "uof")
      .groupBy(col("datetime_utc"), col("uof"))
      .agg(sum(col("volumenes")).as("volumenes"))
      .withColumn("id_mercado", lit(idMercado).cast(ByteType))
    Schemas.validate(rolled, Schemas.volumenesOmie)
  }

  /** Continuo / MIC trades: contract code → delivery datetime; trade grain
    * preserved (no dedup — the lake's append-only rule, SURVEY §1.4).
    * Input: Contrato, Precio + Cantidad (EU-decimal strings), Unidad compra,
    * Unidad venta, fecha_fichero.
    */
  def transformContinuo(df: DataFrame): DataFrame = {
    val parsed = df
      .withColumn("precio", Ingest.parseEuropeanDecimal(col("Precio")))
      .withColumn("volumenes", Ingest.parseEuropeanDecimal(col("Cantidad")))
      .withColumn("datetime_utc", MadridTime.utcFromHourIndex(
        MadridTime.micDeliveryDate(col("Contrato")),
        MadridTime.micDeliveryHour(col("Contrato"))))
    // one row per side: buy negative, sell positive (trade grain)
    val sell = parsed.select(col("datetime_utc"),
      col("Unidad venta").as("uof"), col("volumenes"), col("precio"))
    val buy = parsed.select(col("datetime_utc"),
      col("Unidad compra").as("uof"), (-col("volumenes")).as("volumenes"),
      col("precio"))
    val both = sell.unionByName(buy)
      .withColumn("id_mercado", lit(21).cast(ByteType))
      .withColumn("fecha_fichero", col("datetime_utc").cast(DateType))
    Schemas.validate(both, Schemas.volumenesMic)
  }
}
