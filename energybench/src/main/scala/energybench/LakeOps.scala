package energybench

import java.nio.file.{Files, Path}
import java.sql.Timestamp
import java.util.SplittableRandom
import graft.lake.Lake
import graft.link.Linking
import graft.operators.{Quantiles, Winsorize}
import graft.query.Reader
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import scala.jdk.CollectionConverters._

/** Daily operations on a pre-built multi-month lake. Each simulated day
  * is twelve operations: one revision upsert, one UP↔UOF link, three
  * price scans of each kind and one of every heavier analyst read, with
  * seeded ranges skewed toward recent days, so reads and writes hit the
  * same partitions. Every result is
  * compared with [[LakeModel]].
  */
final class LakeOps(spark: SparkSession, seed: Long, scale: LakeModel.Scale)
    extends Workload {
  import LakeModel._
  import LakeOps._
  import Workload._

  private var dir: Path = _
  private var model: LakeModel = _
  private var saved: LakeModel = _
  private var planted = 0L
  private var leftover = 0L
  private val reads = collection.mutable.ArrayBuffer[Double]()
  private val upserts = collection.mutable.ArrayBuffer[Double]()

  private def lake(ds: String): Path = dir.resolve("lake").resolve(ds)

  def prepare(d: Path): Unit = {
    dir = d
    model = new LakeModel(seed, scale)
  }

  override def build(): Unit = {
    val m = model
    PreciosMarkets.foreach { case (mercado, ids) =>
      Lake.upsert(spark, bulk(PreciosSchema, d => m.preciosRows(ids, d)),
        lake(Precios).toString, mercado, Keys(Precios), "batch")
    }
    Lake.upsert(spark, bulk(OmieSchema, d => m.volumeRows(m.omie, m.uofs, d)),
      lake(Omie).toString, "diario", Keys(Omie), "batch")
    Lake.upsert(spark, bulk(I90Schema, d => m.volumeRows(m.i90, m.ups, d)),
      lake(I90).toString, "diario", Keys(I90), "batch")
  }

  /** A whole-lake frame generated in parallel, one task per few days. */
  private def bulk(schema: StructType, rows: Int => Seq[Row]): DataFrame =
    spark.createDataFrame(spark.sparkContext
      .parallelize(0 until model.nDays, math.min(model.nDays, 8))
      .flatMap(rows), schema)

  /** Day 0's upsert and link, then one read of every kind. */
  def warmup(): Unit = {
    val r = new SplittableRandom(seed ^ 0x5eed)
    (Seq(() => run(0), () => run(1)) ++
        DailyReads.distinctBy(_._1).map { case (k, len) => () => read(k, len, r) }).foreach { f =>
      f().error.foreach(e => throw new IllegalStateException(s"warm-up failed: $e"))
      release(spark)
    }
    reads.clear(); upserts.clear(); planted = 0; leftover = 0
  }

  def kinds: Set[String] = ReadKinds.toSet + "upsert" + "link"
  def cycle: Int = OpsPerDay
  /** The analyst's everyday query: a price scan over one or more markets. */
  def primary(kind: String): Boolean = kind.startsWith("precios_")

  override def mark(): Unit = {
    deleteTree(dir.resolve("snapshot"))
    copyTree(dir.resolve("lake"), dir.resolve("snapshot"))
    saved = model.copy()
  }

  override def reset(): Unit = {
    deleteTree(dir.resolve("lake"))
    copyTree(dir.resolve("snapshot"), dir.resolve("lake"))
    model = saved.copy()
  }

  def op(i: Int): OpResult = run(i + OpsPerDay)

  def dedupRecall: Double = if (planted == 0) 1.0 else (planted - leftover).toDouble / planted

  override def extras: Map[String, Double] = {
    val tail = Stats.tail(reads.toSeq)
    Map("read_p50_s" -> Stats.median(reads.toSeq),
      "read_tail_s" -> tail.map(_.value).getOrElse(Double.NaN),
      "read_tail_pct" -> tail.map(_.percentile).getOrElse(Double.NaN),
      "read_count" -> reads.length.toDouble,
      "upsert_p50_s" -> Stats.median(upserts.toSeq),
      "lake_bytes_per_row" ->
        parquetFiles(dir.resolve("lake")).map(_._2).sum.toDouble / model.liveRows)
  }

  /** Operation j of the seed's sequence: simulated day j / OpsPerDay
    * runs its upsert, its link, then its reads in a seeded order.
    */
  private def run(j: Int): OpResult = {
    val r = new SplittableRandom(seed * 7919L + j * 104729L + 11L)
    val res = j % OpsPerDay match {
      case 0 => upsert(j / OpsPerDay)
      case 1 => link(r)
      case k =>
        val (kind, len) = readOrder(j / OpsPerDay)(k - 2)
        read(kind, len, r)
    }
    release(spark)
    res
  }

  private def readOrder(day: Int): IndexedSeq[(String, Int)] = {
    val r = new SplittableRandom(seed * 31337L + day)
    val a = DailyReads.toArray
    for (i <- a.indices.reverse if i > 0) {
      val j = r.nextInt(i + 1)
      val t = a(i); a(i) = a(j); a(j) = t
    }
    a.toIndexedSeq
  }

  // ---- operations -------------------------------------------------------

  private def upsert(t: Int): OpResult = {
    val rev = model.revise(t)
    val df = revisionFrame(rev)
    val (_, secs) = timed(Trace.span("lake.upsert") {
      traceUpsert(lake(rev.dataset), rev.rows.length) {
        Lake.upsert(spark, df, lake(rev.dataset).toString, rev.mercado,
          Keys(rev.dataset), "batch")
      }
    })
    upserts += secs
    OpResult("upsert", 1, secs, checkRevision(rev))
  }

  private def revisionFrame(rev: Revision): DataFrame = {
    val d = rev.day
    val rows = rev.dataset match {
      case Precios => rev.rows.map { case (m, q, v) =>
        Row(ts(model.quarterSec(d, q)), PreciosIds(m).toByte, priceF(v), rev.batch) }
      case ds =>
        val names = if (ds == Omie) model.uofs else model.ups
        rev.rows.map { case (e, q, v) =>
          Row(ts(model.quarterSec(d, q)), names(e), volF(v), 1.toByte, rev.batch) }
    }
    spark.createDataFrame(rows.asJava, SchemaOf(rev.dataset))
  }

  /** Read the revised day back: every key must carry the model's value,
    * and every revised key the revision's batch.
    */
  private def checkRevision(rev: Revision): Option[String] = {
    val d = rev.day
    val (from, to) = bounds(d, d)
    val ids = if (rev.dataset == Precios) PreciosMarkets.toMap.apply(rev.mercado) else Seq(1)
    val keyCol = rev.dataset match {
      case Precios => col("id_mercado").cast(StringType)
      case Omie => col("uof")
      case _ => col("up")
    }
    val valueCol = if (rev.dataset == Precios) "precio" else "volumenes"
    val back = Lake.read(spark, lake(rev.dataset).toString, Some(rev.mercado), ids,
        Some(from), Some(to))
      .select(keyCol, unix_seconds(col("datetime_utc")), col(valueCol), col("batch"))
      .collect().map(r => (r.getString(0), r.getLong(1)) -> (r.getFloat(2), r.getInt(3)))
    val expected: Map[(String, Long), Float] = rev.dataset match {
      case Precios => (for {
        id <- ids; m = PreciosIds.indexOf(id); q <- 0 until model.quarters(d)
      } yield (id.toString, model.quarterSec(d, q)) ->
        priceF(model.precios(m * model.slots + model.qOff(d) + q))).toMap
      case ds =>
        val (values, names) = if (ds == Omie) (model.omie, model.uofs) else (model.i90, model.ups)
        (for {
          e <- names.indices; q <- 0 until model.quarters(d)
          v = values(model.idx(e, d, q)) if v != Absent
        } yield (names(e), model.quarterSec(d, q)) -> volF(v)).toMap
    }
    val revised = rev.rows.map { case (e, q, _) =>
      val key = if (rev.dataset == Precios) PreciosIds(e).toString
        else if (rev.dataset == Omie) model.uofs(e) else model.ups(e)
      (key, model.quarterSec(d, q))
    }.toSet
    planted += rev.superseded
    leftover += math.max(0, back.length - expected.size)
    val got = back.toMap
    val errs = Seq(
      if (back.length != expected.size)
        Some(s"${rev.dataset} day $d holds ${back.length} rows, expected ${expected.size}") else None,
      expected.find { case (k, v) => !got.get(k).exists(_._1 == v) }
        .map { case (k, v) => s"${rev.dataset} $k = ${got.get(k)}, expected $v" },
      revised.find(k => !got.get(k).exists(_._2 == rev.batch))
        .map(k => s"${rev.dataset} $k not from batch ${rev.batch}: ${got.get(k)}")
    ).flatten
    if (errs.isEmpty) None else Some(errs.mkString("; "))
  }

  private def link(r: SplittableRandom): OpResult = {
    val d = model.nDays - 1 - math.min(geometric(r, 0.3), 13)
    val (from, to) = bounds(d, d)
    def frame(ds: String, entity: String): DataFrame =
      Lake.read(spark, lake(ds).toString, Some("diario"), Seq(1), Some(from), Some(to))
        .select(col(entity).as("entity"), col("id_mercado"),
          floor((unix_seconds(col("datetime_utc")) - lit(model.dayStartSec(d))) / 3600)
            .cast(IntegerType).as("hour"),
          col("volumenes"))
    val (got, secs) = timed(Trace.span("link.link") {
      val pairs = Linking.link(frame(I90, "up"), frame(Omie, "uof"))
        .select("up", "uof").collect().map(x => (x.getString(0), x.getString(1))).toSet
      Trace.fact("pairs", pairs.size)
      pairs
    })
    val want = model.links(d)
    OpResult("link", 1, secs,
      if (got == want) None
      else Some(s"link day $d: missing ${(want -- got).take(3)}, extra ${(got -- want).take(3)}"))
  }

  /** A read of `len` days ending on a seeded recent day. */
  private def read(kind: String, len: Int, r: SplittableRandom): OpResult = {
    val end = model.nDays - 1 - math.min(geometric(r, 0.35), model.nDays - 1)
    val a = math.max(0, end - len + 1)
    val (from, to) = bounds(a, end)
    val (err, secs) = kind match {
      case "precios_scan" =>
        val (m, ids) = market(r)
        val (got, s) = timed(Trace.span("query.precios_scan")(scan(
          Reader.precios(spark, lake(Precios).toString, m, ids, from, to))))
        (compare(got, model.preciosScan(ids, a, end), s"precios $m $ids $a..$end"), s)
      case "precios_multi" =>
        val ms = Seq.fill(2)(market(r)).toMap
        val (got, s) = timed(Trace.span("query.precios_multi")(scan(
          Reader.preciosMulti(spark, lake(Precios).toString, ms, from, to))))
        (compare(got, model.preciosScan(ms.values.flatten.toSeq.distinct, a, end),
          s"precios multi $ms $a..$end"), s)
      case "fact_join" =>
        val (got, s) = timed(Trace.span("query.fact_join") {
          val p = Reader.precios(spark, lake(Precios).toString, "diario", Seq(1), from, to)
            .select("datetime_utc", "id_mercado", "precio")
          val v = Lake.read(spark, lake(Omie).toString, Some("diario"), Seq(1),
            Some(from), Some(to)).select("datetime_utc", "id_mercado", "uof", "volumenes")
          Reader.joinPreciosVolumenes(p, v)
            .groupBy(to_date(from_utc_timestamp(col("datetime_utc"), Madrid.Zone.getId)).as("d"))
            .agg(count(lit(1)), sum(col("importe").cast(DoubleType)))
            .collect().map(x => (x.getDate(0).toLocalDate, x.getLong(1), x.getDouble(2)))
            .sortBy(_._1.toEpochDay).toSeq
        })
        val want = model.dailyImporte(a, end)
        val ok = got.length == want.length && got.zip(want).forall { case (g, w) =>
          g._1 == w._1 && g._2 == w._2 && close(g._3, w._3) }
        (if (ok) None else Some(s"daily importe $a..$end: $got, expected $want"), s)
      case "rolling" =>
        val (m, ids) = market(r)
        val (got, s) = timed(Trace.span("query.rolling") {
          Reader.rollingAvg(Reader.precios(spark, lake(Precios).toString, m, ids, from, to)
              .select("datetime_utc", "id_mercado", "precio"), "precio")
            .groupBy(col("id_mercado").cast(IntegerType))
            .agg(count(lit(1)), sum(col("precio_rolling")))
            .collect().map(x => x.getInt(0) -> (x.getLong(1), x.getDouble(2))).toMap
        })
        val want = model.rolling(ids, a, end)
        val ok = got.keySet == want.keySet && got.forall { case (k, (n, v)) =>
          want(k)._1 == n && close(v, want(k)._2, 1e-9) }
        (if (ok) None else Some(s"rolling $m $ids $a..$end: $got, expected $want"), s)
      case "quantiles" =>
        val (got, s) = timed(Trace.span("operators.quantiles") {
          Quantiles.grouped(omieRange(from, to), Seq("uof"), "v", Seq(0.5, 0.9),
              Seq("p50", "p90"))
            .collect().map(x => x.getString(0) -> Seq(x.getDouble(1), x.getDouble(2))).toMap
        })
        val want = model.quantiles(a, end, Seq(0.5, 0.9))
        val ok = got.keySet == want.keySet && got.forall { case (k, v) =>
          v.zip(want(k)).forall { case (x, y) => close(x, y, 1e-9) } }
        (if (ok) None else Some(s"quantiles $a..$end differ"), s)
      case "winsorize" =>
        val (got, s) = timed(Trace.span("operators.winsorize") {
          val x = Winsorize.winsorizedStats(spark, omieRange(from, to), "v", 0.01, 0.99)
            .collect()(0)
          (x.getDouble(0), x.getDouble(1), x.getLong(2), x.getLong(3), x.getDouble(4))
        })
        val want = model.winsorized(a, end, 0.01, 0.99)
        val ok = close(got._1, want._1, 1e-9) && close(got._2, want._2, 1e-9) &&
          got._3 == want._3 && got._4 == want._4 && close(got._5, want._5, 1e-9)
        (if (ok) None else Some(s"winsorize $a..$end: $got, expected $want"), s)
    }
    reads += secs
    OpResult(kind, 1, secs, err)
  }

  private def omieRange(from: String, to: String): DataFrame =
    Lake.read(spark, lake(Omie).toString, Some("diario"), Seq(1), Some(from), Some(to))
      .select(col("uof"), col("volumenes").cast(DoubleType).as("v"))

  /** Count and price sum of a read, with its scan figures when traced. */
  private def scan(df: DataFrame): (Long, Double) = {
    val agg = df.agg(count(lit(1)), sum(col("precio").cast(DoubleType)))
    val x = agg.collect()(0)
    Trace.fact("rows_returned", x.getLong(0))
    if (Trace.enabled) Trace.fact("scan_files", scanFiles(agg))
    (x.getLong(0), if (x.isNullAt(1)) 0.0 else x.getDouble(1))
  }

  private def compare(got: (Long, Double), want: (Long, Double), what: String): Option[String] =
    if (got._1 == want._1 && close(got._2, want._2)) None
    else Some(s"$what: $got, expected $want")

  private def market(r: SplittableRandom): (String, Seq[Int]) = {
    val (m, ids) = PreciosMarkets(r.nextInt(PreciosMarkets.length))
    val sub = ids.filter(_ => r.nextBoolean())
    (m, if (sub.isEmpty) ids else sub)
  }

  /** UTC literals bounding local days a..b (inclusive, as Lake.read takes). */
  private def bounds(a: Int, b: Int): (String, String) =
    (Madrid.utcLiteral(java.time.Instant.ofEpochSecond(model.dayStartSec(a))),
      Madrid.utcLiteral(java.time.Instant.ofEpochSecond(
        model.quarterSec(b, model.quarters(b) - 1))))
}

object LakeOps {
  import LakeModel._

  val DefaultScale: Scale = Scale(days = 40, uofs = 100, ups = 72, mirrors = 12)
  /** A simulated day's reads and their ranges in days: each kind of
    * everyday price scan over a day, a week and a month, every heavier
    * read once. Every day reads the same ranges, so runs of different
    * seeds do the same amount of work.
    */
  val DailyReads: Seq[(String, Int)] =
    (for (len <- Seq(1, 7, 30); k <- Seq("precios_scan", "precios_multi")) yield (k, len)) ++
      Seq("fact_join" -> 14, "rolling" -> 30, "quantiles" -> 7, "winsorize" -> 14)
  val ReadKinds: Seq[String] = DailyReads.map(_._1).distinct
  val OpsPerDay: Int = 2 + DailyReads.length

  val Keys: Map[String, Seq[String]] = Map(
    Precios -> Seq("datetime_utc", "id_mercado"),
    Omie -> Seq("datetime_utc", "uof", "id_mercado"),
    I90 -> Seq("datetime_utc", "up", "id_mercado"))

  private def volumeSchema(entity: String) = StructType(Seq(
    StructField("datetime_utc", TimestampType, nullable = false),
    StructField(entity, StringType, nullable = false),
    StructField("volumenes", FloatType, nullable = false),
    StructField("id_mercado", ByteType, nullable = false),
    StructField("batch", IntegerType, nullable = false)))
  val OmieSchema: StructType = volumeSchema("uof")
  val I90Schema: StructType = volumeSchema("up")
  val PreciosSchema: StructType = StructType(Seq(
    StructField("datetime_utc", TimestampType, nullable = false),
    StructField("id_mercado", ByteType, nullable = false),
    StructField("precio", FloatType, nullable = false),
    StructField("batch", IntegerType, nullable = false)))
  val SchemaOf: Map[String, StructType] =
    Map(Precios -> PreciosSchema, Omie -> OmieSchema, I90 -> I90Schema)

  def ts(sec: Long): Timestamp = new Timestamp(sec * 1000L)
  def priceF(cents: Int): Float = (cents / 100.0).toFloat
  def volF(tenths: Int): Float = (tenths / 10.0).toFloat

  def copyTree(from: Path, to: Path): Unit =
    Files.walk(from).iterator().asScala.foreach { p =>
      val t = to.resolve(from.relativize(p).toString)
      if (Files.isDirectory(p)) Files.createDirectories(t) else Files.copy(p, t)
    }

  /** Files a finished query's scans read, from the executed plan's metrics. */
  def scanFiles(df: DataFrame): Long = {
    import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    def walk(p: SparkPlan): Seq[SparkPlan] = p match {
      case a: AdaptiveSparkPlanExec => walk(a.executedPlan)
      case q: QueryStageExec => walk(q.plan)
      case o => o +: (o.children ++ o.subqueries).flatMap(walk)
    }
    walk(df.queryExecution.executedPlan).collect {
      case s: FileSourceScanExec => s.metrics.get("numFiles").map(_.value).getOrElse(0L)
    }.sum
  }
}
