package energybench

import java.nio.file.{Files, Path}
import graft.ingest.Ingest
import graft.lake.Lake
import graft.transform.{EsiosTransform, I90Transform, OmieTransform}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import scala.jdk.CollectionConverters._

/** Raw zone → validated lake. One operation lands the whole raw zone,
  * both DST windows (three days each, all three sources), into a fresh
  * lake in one batch; the lake is then checked against the generator's
  * model and removed.
  */
final class EtlBackfill(spark: SparkSession, seed: Long, scale: EtlGen.Scale)
    extends Workload {
  import EtlBackfill._
  import Workload._

  private var zone: Zone = _
  private val recalls = collection.mutable.ArrayBuffer[Double]()
  private val bytesPerRow = collection.mutable.ArrayBuffer[Double]()

  def prepare(d: Path): Unit = {
    zone = Zone(d.resolve("raw"), EtlGen.generate(seed, scale))
    writeRaw(zone.raw, zone.windows)
  }

  /** One landing of the same raw zone: the first pays for code
    * generation and most of the JIT.
    */
  def warmup(): Unit = {
    op(-1).error.foreach(e => throw new IllegalStateException(s"warm-up failed: $e"))
    recalls.clear()
    bytesPerRow.clear()
  }

  def kinds: Set[String] = Set(Kind)
  def cycle: Int = 1
  def primary(kind: String): Boolean = true

  def op(i: Int): OpResult = {
    val lake = zone.raw.resolveSibling(s"lake/l$i")
    val (_, secs) = timed(Trace.span("op.backfill")(land(lake)))
    release(spark)
    OpResult(Kind, zone.expected.liveRows, secs, checkAndDrop(lake))
  }

  def dedupRecall: Double = Stats.median(recalls.toSeq)

  override def extras: Map[String, Double] =
    Map("lake_bytes_per_row" -> Stats.median(bytesPerRow.toSeq))

  /** Check a landed lake against the model, then remove it. */
  private def checkAndDrop(lake: Path): Option[String] = {
    val errs = check(spark, lake, zone.expected)
    bytesPerRow += parquetFiles(lake).map(_._2).sum.toDouble / zone.expected.liveRows
    val duplicates = zone.windows.map(_.i90Duplicates).sum
    val unique = zone.expected.rows.collect { case ((ds, _), n) if ds == I90 => n }.sum
    val landed = spark.read.parquet(lake.resolve(I90).toString).count()
    recalls += (if (duplicates == 0) 1.0
      else (unique + duplicates - landed).toDouble / duplicates)
    deleteTree(lake)
    if (errs.isEmpty) None else Some(errs.mkString("; "))
  }

  /** The raw zone, three sources, five upserts: the path a backfill run
    * of the engine takes. Traced, every layer's output is materialized
    * where the layer ends.
    */
  private def land(lake: Path): Unit = {
    val raw = zone.raw
    val ((h, nh), (q, nq)) = Trace.span("ingest.omie_csv") {
      (out(Ingest.readOmieCsv(spark, raw.resolve("omie_h").toString, OmieHourly)),
        out(Ingest.readOmieCsv(spark, raw.resolve("omie_q").toString, OmieQuarter)))
    }
    val (omie, _) = Trace.span("transform.omie") {
      Trace.fact("rows_in", nh + nq)
      out(OmieTransform.transform(h, 1, quarterHourly = false)
        .unionByName(OmieTransform.transform(q, 1, quarterHourly = true))
        .withColumn("batch", lit(1)))
    }
    upsert(omie, lake.resolve(Omie), "diario", Seq("datetime_utc", "uof", "id_mercado"))

    zone.windows.flatMap(_.esios).groupBy(_._1).toSeq.sortBy(_._1).foreach { case (mercado, parts) =>
      val (in, n) = Trace.span("ingest.esios")(out(esiosFrame(spark, parts.flatMap(_._2))))
      val (prices, _) = Trace.span("transform.esios") {
        Trace.fact("rows_in", n)
        out(EsiosTransform.transform(in).withColumn("batch", lit(1)))
      }
      upsert(prices, lake.resolve(Precios), mercado, Seq("datetime_utc", "id_mercado"))
    }

    // the transform melts the wide sheet itself; traced, the melt also
    // runs alone so the ingest layer has its own span
    val wide = Trace.boundary(i90Frame(spark, zone.windows.flatMap(w => w.i90 ++ w.i90Redownload)))
    val melted = if (!Trace.enabled) 0L else Trace.span("ingest.i90_melt") {
      out(Ingest.melt(wide, EtlGen.I90IdCols, EtlGen.I90ValueCols))._2
    }
    val (i90, _) = Trace.span("transform.i90") {
      Trace.fact("rows_in", melted)
      out(I90Transform.transform(spark, wide, EtlGen.I90IdCols, EtlGen.I90ValueCols)
        .withColumn("batch", lit(1)))
    }
    upsert(i90, lake.resolve(I90), "i90", Seq("datetime_utc", "up", "id_mercado"))
  }

  private def upsert(df: DataFrame, path: Path, mercado: String,
      keys: Seq[String]): Unit =
    Trace.span("lake.upsert") {
      traceUpsert(path, if (Trace.enabled) df.count() else 0L) {
        Lake.upsert(spark, df, path.toString, mercado, keys, "batch")
      }
    }

  /** A layer's output and its row count; traced, the output is
    * materialized and counted where the layer ends.
    */
  private def out(df: DataFrame): (DataFrame, Long) =
    if (!Trace.enabled) (df, 0L)
    else {
      val m = Trace.boundary(df)
      val n = m.count()
      Trace.fact("rows_out", n)
      (m, n)
    }
}

object EtlBackfill {
  val DefaultScale: EtlGen.Scale = EtlGen.Scale(uofs = 300, ups = 150)
  val Kind = "backfill"

  /** A generated raw zone, where its files are, and the lake it must give. */
  final case class Zone(raw: Path, windows: Seq[EtlGen.Window]) {
    val expected: EtlGen.Expected = windows.map(_.expected).reduce(_ ++ _)
  }

  /** OMIE day files of every window, one directory per file form. */
  def writeRaw(raw: Path, windows: Seq[EtlGen.Window]): Unit =
    windows.flatMap(_.omie).foreach { f =>
      val sub = raw.resolve(if (f.quarterForm) "omie_q" else "omie_h")
      Files.createDirectories(sub)
      Files.write(sub.resolve(s"${f.day}.csv"), f.bytes)
    }
  val Precios = "precios"
  val Omie = "volumenes_omie"
  val I90 = "volumenes_i90"
  val ValueCol = Map(Precios -> "precio", Omie -> "volumenes", I90 -> "volumenes")

  private def omieSchema(period: StructField) = StructType(Seq(
    StructField("Fecha", DateType), period, StructField("Unidad", StringType),
    StructField("Tipo Oferta", StringType),
    StructField("Energía Compra/Venta", StringType),
    StructField("Ofertada (O)/Casada (C)", StringType)))
  val OmieHourly: StructType = omieSchema(StructField("Hora", IntegerType))
  val OmieQuarter: StructType = omieSchema(StructField("Periodo", StringType))

  private val EsiosSchema = StructType(Seq(
    StructField("datetime_utc", TimestampType), StructField("value", DoubleType),
    StructField("indicador_id", IntegerType), StructField("granularidad", StringType),
    StructField("geo_name", StringType)))

  def esiosFrame(spark: SparkSession, rs: Seq[EtlGen.EsiosRow]): DataFrame =
    spark.createDataFrame(rs.map(e =>
      Row(e.ts, e.value, e.indicator, e.gran, e.geo)).asJava, EsiosSchema)

  private val I90Schema = StructType(
    Seq(StructField(EtlGen.I90IdCols.head, StringType),
      StructField("fecha", DateType)) ++
      EtlGen.I90IdCols.drop(2).map(StructField(_, StringType)) ++
      EtlGen.I90ValueCols.map(StructField(_, DoubleType)))

  def i90Frame(spark: SparkSession, rs: Seq[EtlGen.I90Row]): DataFrame =
    spark.createDataFrame(rs.map(r =>
      Row.fromSeq(Seq(r.up, r.fecha, r.sentido, r.redespacho, r.gran) ++ r.values))
      .asJava, I90Schema)

  /** Compare a landed lake with the generator's model: rows and value sums
    * per dataset and market id, and the quarter count of every DST day
    * for every precios id. Returns one message per mismatch.
    */
  def check(spark: SparkSession, lake: Path, exp: EtlGen.Expected): Seq[String] = {
    val actual = Seq(Precios, Omie, I90).flatMap { ds =>
      spark.read.parquet(lake.resolve(ds).toString)
        .groupBy(col("id_mercado").cast(IntegerType))
        .agg(count(lit(1)), sum(col(ValueCol(ds)).cast(DoubleType)))
        .collect().map(r => (ds, r.getInt(0)) -> (r.getLong(1), r.getDouble(2)))
    }.toMap
    val dst = exp.dstQuarters.toSeq.map { case (d, _) =>
      d -> spark.read.parquet(lake.resolve(Precios).toString)
        .filter(col("datetime_utc") >= lit(Madrid.dayStart(d)) &&
          col("datetime_utc") < lit(Madrid.dayStart(d.plusDays(1))))
        .groupBy(col("id_mercado").cast(IntegerType)).count()
        .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
    }.toMap
    compare(exp, actual, dst)
  }

  /** The pure half of [[check]]. */
  def compare(exp: EtlGen.Expected, actual: Map[(String, Int), (Long, Double)],
      dst: Map[java.time.LocalDate, Map[Int, Long]]): Seq[String] = {
    val keys = (exp.rows.keySet ++ actual.keySet).toSeq.sorted
    val counts = keys.flatMap { k =>
      val (n, s) = actual.getOrElse(k, (0L, 0.0))
      val en = exp.rows.getOrElse(k, 0L)
      val es = exp.sums.getOrElse(k, 0.0)
      if (n != en) Some(s"$k rows $n, expected $en")
      else if (!Workload.close(s, es)) Some(s"$k sum $s, expected $es")
      else None
    }
    val ids = EtlGen.Indicators.map(_._3)
    val quarters = exp.dstQuarters.toSeq.sortBy(_._1.toEpochDay).flatMap { case (d, q) =>
      ids.flatMap { id =>
        val got = dst.getOrElse(d, Map.empty[Int, Long]).getOrElse(id, 0L)
        if (got != q) Some(s"$d precios id $id has $got quarters, expected $q") else None
      }
    }
    counts ++ quarters
  }
}
