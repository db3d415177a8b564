package graft.transform

import graft.ingest.Ingest
import graft.model.Schemas
import graft.time.MadridTime
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** I90 volumenes pipeline — SURVEY.md §3.2 (_procesador_i90.py:556-632):
  * melt → market filters + id tag → datetime standardization (W2 dispatch
  * by granularity) → finalize → validate, plus the intra cumulative
  * differencing chain (SessionDiff).
  */
object I90Transform {

  import MarketFilters.MarketLeg

  /** Default market legs (config-as-data; ref configs/i90_config.py:483-599). */
  val DefaultLegs: Seq[MarketLeg] = Seq(
    MarketLeg(3, "Subir", Seq("Terciaria")),
    MarketLeg(4, "Bajar", Seq("Terciaria")),
    MarketLeg(10, "Subir", Seq("UPLPVPV", "UPLPVPCBN")),
    MarketLeg(11, "Bajar", Seq("UPLPVPV", "UPLPVPCBN")))

  /** W2 — datetime standardization dispatcher: one declarative path per
    * granularity, no DST special-casing (the UTC-arithmetic kernels absorb
    * the 92/100-interval days). Input has `fecha` (date), and either `hora`
    * hourly labels ("00-01", "02-03a/b") or a 1-based 15-min index.
    * `transition_type` comes from the W1 calendar joined on fecha.
    */
  def standardizeDatetime(df: DataFrame, calendar: DataFrame): DataFrame = {
    val withCal = df.join(broadcast(calendar),
      df("fecha") === calendar("fecha"), "left")
      .drop(calendar("fecha"))
    // a date outside the calendar range raises (folded into the published
    // column like mapLookupStrict — zero extra jobs, pruning can't elide
    // it); without this, out-of-range dates silently got a null
    // transition_type and a wrong hour-label offset (r5 advice)
    val tt = when(col("transition_type").isNull, raise_error(concat(
        lit("date outside calendar dim: "),
        coalesce(col("fecha").cast(StringType), lit("<null>")))))
      .otherwise(col("transition_type"))
    withCal.withColumn("datetime_utc",
      when(col("granularity") === "Quince minutos",
        MadridTime.utcFromQuarterIndex(col("fecha"), col("hora").cast(IntegerType)))
        .otherwise(MadridTime.utcFromHourLabel(col("fecha"), col("hora"), tt)))
      .drop("transition_type", "quarters_in_day")
  }

  /** Wide sheet → processed volumenes (diario path). */
  def transform(spark: SparkSession, wide: DataFrame, idCols: Seq[String],
      hourCols: Seq[String], legs: Seq[MarketLeg] = DefaultLegs): DataFrame = {
    val long = Ingest.pruneZeroValues(
      Ingest.melt(wide, idCols, hourCols, "hora", "volumenes"))
    val tagged = MarketFilters.filterSinglePass(long, legs, "Sentido", "Redespacho")
    val cal = MadridTime.defaultCalendar(spark)
    val std = standardizeDatetime(tagged, cal)
    val fin = std
      .withColumnRenamed("Unidad de Programación", "up")
      .select("datetime_utc", "up", "volumenes", "id_mercado")
    Schemas.validate(fin, Schemas.volumenesI90)
  }

  /** Precios variant (SURVEY §7.2 step 5: same as volumenes minus intra):
    * wide sheet with `precios` values → standardized precios schema.
    * ref: transform/procesadores/_procesador_i90.py (precios path),
    * raw schema `precios_i90` in data_validation_utils.py:26-31.
    */
  def transformPrecios(spark: SparkSession, wide: DataFrame, idCols: Seq[String],
      hourCols: Seq[String], legs: Seq[MarketLeg] = DefaultLegs): DataFrame = {
    val long = Ingest.melt(wide, idCols, hourCols, "hora", "precios")
      .filter(col("precios").isNotNull)
    val tagged = MarketFilters.filterSinglePass(long, legs, "Sentido", "Redespacho")
    val cal = MadridTime.defaultCalendar(spark)
    val std = standardizeDatetime(tagged, cal)
    val fin = std
      .withColumn("precio", round(col("precios"), 2)) // price standardization
      .select("datetime_utc", "id_mercado", "precio")
    Schemas.validate(fin, Schemas.precios)
  }

  /** Intra path: diario baseline + cumulative sessions → net volumes
    * (ref: _procesador_i90.py:361-446; SessionDiff holds the window logic).
    */
  def transformIntra(diario: Option[DataFrame],
      sessions: Seq[(Int, DataFrame)]): DataFrame =
    SessionDiff.intraNetVolumes(diario, sessions, "up",
      tipoCol = diario.flatMap(d =>
        if (d.columns.contains("tipo_transaccion")) Some("tipo_transaccion")
        else None))
}
