package graft.transform

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Config-driven market filter bank — SURVEY.md §2.2 (F2-F8).
  * The reference's per-market config classes (configs/i90_config.py:483-599)
  * become plain data; every leg is tagged in one single-pass when-chain.
  */
object MarketFilters {

  /** One market leg: rows matching (sentido, redespacho ∈ set) are tagged
    * id_mercado = id. ref: _procesador_i90.py:35-124 (F3)
    */
  final case class MarketLeg(id: Int, sentido: String, redespachos: Seq[String])

  /** F3 as a single-pass when-chain: the fact table is read once, each
    * row is tagged with the id of its leg (legs are disjoint on
    * (sentido, redespacho)) and rows matching no leg are dropped.
    */
  def filterSinglePass(df: DataFrame, legs: Seq[MarketLeg],
      sentidoCol: String, redespachoCol: String): DataFrame = {
    val tag = legs.foldLeft(lit(null).cast(ByteType)) { (acc, l) =>
      when(col(sentidoCol) === l.sentido &&
        col(redespachoCol).isin(l.redespachos: _*), lit(l.id).cast(ByteType))
        .otherwise(acc)
    }
    df.withColumn("id_mercado", tag).filter(col("id_mercado").isNotNull)
  }

  /** F2 — conditional filter: restricted ids must satisfy the geo set,
    * all other rows pass. ref: _procesador_esios.py:100-132
    */
  def conditionalGeoFilter(df: DataFrame, idCol: String, restricted: Seq[Int],
      geoCol: String, allowedGeos: Seq[String]): DataFrame =
    df.filter(!col(idCol).isin(restricted: _*) ||
      col(geoCol).isin(allowedGeos: _*))

  /** F4/F5 — literal map lookup with fail-on-unmapped (the reference raises
    * when an indicator has no market id, _procesador_esios.py:179-184).
    * The gate is folded INTO the output expression: an unmapped key raises
    * when the row is materialized, so the check costs no extra job. The
    * error expression lives inside the published column — column pruning
    * can never elide it.
    */
  def mapLookupStrict(df: DataFrame, keyCol: String,
      mapping: Map[String, Int]): DataFrame = {
    val looked = element_at(typedLit(mapping), col(keyCol))
    // coalesce the key inside the message: concat(lit, NULL) is NULL, and a
    // NULL-keyed row would otherwise raise with a null message — losing the
    // diagnostic this gate exists to provide
    df.withColumn("id_mercado",
      when(looked.isNull, raise_error(
        concat(lit(s"unmapped $keyCol: "),
          coalesce(col(keyCol), lit("<null>")))))
        .otherwise(looked).cast(ByteType))
  }

  /** Known-bad publication days are masked before transform — the
    * reference keeps an error-date table per market.
    * ref: configs/i90_config.py:196-215, _descargador_i90.py:77-86
    */
  def maskErrorDates(df: DataFrame, dateCol: String,
      errorDates: Seq[String]): DataFrame =
    if (errorDates.isEmpty) df
    else df.filter(!col(dateCol).cast(DateType).isin(
      errorDates.map(java.sql.Date.valueOf): _*))

  /** F7 — curtailment RTx derivation + direction filter.
    * ref: _procesador_curtailments.py:28-59
    */
  def curtailmentRtx(df: DataFrame, sentidoCol: String, redespachoCol: String,
      r1Set: Seq[String], r5Set: Seq[String]): DataFrame =
    df.filter(col(sentidoCol) === "Bajar")
      .withColumn("RTx",
        when(col(redespachoCol).isin(r1Set: _*), "R1")
          .when(col(redespachoCol).isin(r5Set: _*), "R5"))
      .filter(col("RTx").isNotNull)
      .withColumn("id_mercado", lit(13).cast(ByteType))

  /** F8 — matched-units filter + buy/sell sign + power→energy scaling.
    * ref: _procesador_omie.py:97-173
    */
  def matchedSign(df: DataFrame, matchedCol: String, tipoCol: String,
      valueCol: String, quarterHourly: Column): DataFrame =
    df.filter(col(matchedCol) === "C")
      .withColumn(valueCol,
        when(col(tipoCol) === "C", -col(valueCol)).otherwise(col(valueCol)))
      .withColumn(valueCol,
        when(quarterHourly, col(valueCol) / 4).otherwise(col(valueCol)))
}
