package graft.transform

import graft.SparkSpec
import graft.lake.Lake
import graft.query.Reader
import org.apache.spark.sql.functions._

/** End-to-end slices — SURVEY.md §7.2 step 4 (ESIOS) and steps 5-6 (I90),
  * through transform → lake → typed read.
  */
class PipelineSpec extends SparkSpec {
  import spark.implicits._

  test("ESIOS slice: raw → transform → lake → pruned typed read") {
    val raw = Seq(
      // hourly indicator 600 (diario): explodes ×4, price replicated
      ("2024-07-15 10:00:00", 50.125, 600, "Hora", "España"),
      // quarter-hour indicator 612: passes through
      ("2024-07-15 10:00:00", 60.0, 612, "Quince minutos", "España"),
      // restricted indicator with foreign geo: dropped by F2
      ("2024-07-15 10:00:00", 99.0, 600, "Hora", "Francia"))
      .toDF("dt", "value", "indicador_id", "granularidad", "geo_name")
      .withColumn("datetime_utc", col("dt").cast("timestamp")).drop("dt")
    val out = EsiosTransform.transform(raw)
    assert(out.count() == 5) // 4 quarters + 1 quarter row
    // price standardization rounds to 2 decimals
    assert(out.filter(col("id_mercado") === 1)
      .select("precio").as[Float].collect().forall(_ == 50.13f))
    // lake roundtrip with pruned read
    val path = tmpDir() + "/esios"
    Lake.upsert(spark, out.withColumn("batch_id", lit(1)), path, "diario",
      Seq("datetime_utc", "id_mercado"), "batch_id")
    val back = Reader.precios(spark, path, "diario", Seq(1),
      "2024-07-15", "2024-07-16")
    assert(back.count() == 4)
    intercept[Reader.UnknownMarket] {
      Reader.precios(spark, path, "nope", Nil, "2024-07-15", "2024-07-16")
    }
  }

  test("per-market isolation: one market's bad data doesn't sink the others") {
    def raw(ind: Int) = Seq(("2024-07-15 10:00:00", 50.0, ind, "Hora", "España"))
      .toDF("dt", "value", "indicador_id", "granularidad", "geo_name")
      .withColumn("datetime_utc", col("dt").cast("timestamp")).drop("dt")
    val path = tmpDir() + "/markets"
    val day = java.time.LocalDate.parse("2024-07-15")
    val statuses = EtlRunner.runLegs(Seq(day -> "diario", day -> "roto")) {
      (_, m) =>
        val ind = if (m == "diario") 600 else 999 // 999 unmapped ⇒ raise_error
        val out = EsiosTransform.transform(raw(ind)).withColumn("batch_id", lit(1))
        Lake.upsert(spark, out, s"$path/$m", m,
          Seq("datetime_utc", "id_mercado"), "batch_id")
        out.count()
    }
    val byMarket = statuses.map(st => st.market -> st).toMap
    assert(statuses.filter(_.ok).map(_.market) == Seq("diario"))
    assert(statuses.filterNot(_.ok).map(_.market) == Seq("roto"))
    assert(byMarket("roto").error.contains("unmapped"))
    assert(byMarket("diario").rows == 4L) // the good market still landed
    assert(Lake.read(spark, s"$path/diario").count() == 4)
  }

  test("I90 slice: wide sheet → melt → filters → DST datetime → schema") {
    // fall-back day 2024-10-27: labels 02-03a (CEST) and 02-03b (CET)
    val wide = Seq(
      ("UP1", "2024-10-27", "Subir", "Terciaria", "Hora", Some(10.0), Some(20.0), None),
      ("UP2", "2024-10-27", "Bajar", "Terciaria", "Hora", Some(5.0), None, Some(7.0)),
      ("UP3", "2024-10-27", "Subir", "NoMatch", "Hora", Some(9.0), Some(9.0), Some(9.0)))
      .toDF("Unidad de Programación", "fecha_s", "Sentido", "Redespacho",
        "granularity", "02-03a", "02-03b", "03-04")
      .withColumn("fecha", col("fecha_s").cast("date")).drop("fecha_s")
    val out = I90Transform.transform(spark, wide,
      Seq("Unidad de Programación", "fecha", "Sentido", "Redespacho", "granularity"),
      Seq("02-03a", "02-03b", "03-04"))
    val got = out.select(col("up"), col("datetime_utc").cast("string"),
      col("volumenes"), col("id_mercado").cast("int"))
      .as[(String, String, Float, Int)].collect().toSet
    assert(got == Set(
      ("UP1", "2024-10-27 00:00:00", 10.0f, 3), // 02a = CEST = 00:00Z
      ("UP1", "2024-10-27 01:00:00", 20.0f, 3), // 02b = CET  = 01:00Z
      ("UP2", "2024-10-27 00:00:00", 5.0f, 4),
      ("UP2", "2024-10-27 02:00:00", 7.0f, 4))) // 03 after fall-back = +1
    // UP3's Redespacho matches no leg ⇒ filtered out entirely
    assert(!got.exists(_._1 == "UP3"))
  }

  test("W1 calendar: 2031 dates resolve; far-out-of-range dates raise") {
    def wideFor(fecha: String) = Seq(
      ("UP1", fecha, "Subir", "Terciaria", "Hora", Some(10.0)))
      .toDF("Unidad de Programación", "fecha_s", "Sentido", "Redespacho",
        "granularity", "05-06")
      .withColumn("fecha", col("fecha_s").cast("date")).drop("fecha_s")
    def run(fecha: String) = I90Transform.transform(spark, wideFor(fecha),
      Seq("Unidad de Programación", "fecha", "Sentido", "Redespacho",
        "granularity"), Seq("05-06"))
    // 2031 sat outside the old hardcoded 2020-2030 dim: its null
    // transition_type silently fell through as a normal day; the widened
    // default calendar covers it
    val r31 = run("2031-06-01").select(col("datetime_utc").cast("string"))
      .as[String].head()
    assert(r31 == "2031-06-01 03:00:00") // CEST: local 05 = 03:00Z
    // beyond the calendar the gate raises instead of silently mis-offsetting
    val e = intercept[Exception] { run("2085-06-01").collect() }
    def msgs(t: Throwable): Seq[String] =
      Option(t).toSeq.flatMap(x => Option(x.getMessage).toSeq ++ msgs(x.getCause))
    assert(msgs(e).exists(_.contains("date outside calendar dim")))
  }

  test("I90 precios variant: melt → filters → DST datetime → precios schema") {
    val wide = Seq(
      ("2024-10-27", "Subir", "Terciaria", "Hora", Some(50.555), Some(60.0)))
      .toDF("fecha_s", "Sentido", "Redespacho", "granularity", "02-03a", "02-03b")
      .withColumn("fecha", col("fecha_s").cast("date")).drop("fecha_s")
    val out = I90Transform.transformPrecios(spark, wide,
      Seq("fecha", "Sentido", "Redespacho", "granularity"),
      Seq("02-03a", "02-03b"))
    val got = out.select(col("datetime_utc").cast("string"), col("precio"),
      col("id_mercado").cast("int")).as[(String, Float, Int)].collect().toSet
    assert(got == Set(
      ("2024-10-27 00:00:00", 50.56f, 3), // rounded to 2 decimals, 02a=CEST
      ("2024-10-27 01:00:00", 60.0f, 3)))
  }

  test("I90 intra chain composes with the pipeline output shape") {
    val ts = "2024-07-15 10:00:00"
    def f(rows: (String, Double)*) = rows.toSeq.toDF("up", "volumenes")
      .withColumn("datetime_utc", lit(ts).cast("timestamp"))
    val diario = f(("UP1", 100.0)).withColumn("tipo_transaccion", lit("Mercado"))
    val out = I90Transform.transformIntra(Some(diario),
        Seq(1 -> f(("UP1", 120.0)), 2 -> f(("UP1", 90.0))))
      .select("session", "volumenes").as[(Int, Double)].collect().toSet
    assert(out == Set((1, 20.0), (2, -30.0)))
  }

  test("Reader: multi-market OR scan + free-form SQL over a registered view") {
    val path = tmpDir() + "/multi"
    def mk(id: Int, precio: Double) = Seq(("2024-07-15 10:00:00", id, precio))
      .toDF("dt", "id_mercado", "precio")
      .withColumn("datetime_utc", col("dt").cast("timestamp")).drop("dt")
    Lake.upsert(spark, mk(1, 50.0).withColumn("b", lit(1)), path, "diario",
      Seq("datetime_utc", "id_mercado"), "b")
    Lake.upsert(spark, mk(2, 60.0).withColumn("b", lit(1)), path, "intra",
      Seq("datetime_utc", "id_mercado"), "b")
    Lake.upsert(spark, mk(3, 70.0).withColumn("b", lit(1)), path, "intra",
      Seq("datetime_utc", "id_mercado"), "b")
    // (diario, 1) OR (intra, [2]) — the intra id-3 partition is excluded
    val got = Reader.preciosMulti(spark, path,
        Map("diario" -> Seq(1), "intra" -> Seq(2)), "2024-07-15", "2024-07-16")
      .select("id_mercado").as[Int].collect().sorted
    assert(got.sameElements(Array(1, 2)))
    // free-form SQL (the NL-layer shape) over a registered view, with the
    // reference's prescribed Madrid display conversion at the edge
    Reader.registerView(spark, path, "precios")
    val sql = spark.sql(
      """SELECT from_utc_timestamp(datetime_utc, 'Europe/Madrid') AS datetime_madrid,
                precio
         FROM precios
         WHERE mercado = 'intra' AND id_mercado = 3
           AND datetime_utc >= '2024-07-15' AND datetime_utc < '2024-07-16'""")
    val row = sql.as[(java.sql.Timestamp, Double)].head()
    assert(row._1.toString == "2024-07-15 12:00:00.0") // CEST = UTC+2
    assert(row._2 == 70.0)
  }

  test("Reader: precios×volumenes join + rolling avg surface") {
    val p = Seq(("2024-07-15 10:00:00", 1, 50.0), ("2024-07-15 10:15:00", 1, 60.0))
      .toDF("dt", "id_mercado", "precio")
      .withColumn("datetime_utc", col("dt").cast("timestamp")).drop("dt")
    val v = Seq(("2024-07-15 10:00:00", 1, 2.0), ("2024-07-15 10:15:00", 1, 4.0))
      .toDF("dt", "id_mercado", "volumenes")
      .withColumn("datetime_utc", col("dt").cast("timestamp")).drop("dt")
    val j = Reader.joinPreciosVolumenes(p, v)
    assert(j.agg(sum("importe")).as[Double].head() == 100.0 + 240.0)
    val r = Reader.rollingAvg(j, "precio", slots = 2)
      .orderBy("datetime_utc").select("precio_rolling").as[Double].collect()
    assert(r.sameElements(Array(50.0, 55.0)))
    val local = Reader.withMadridTime(j)
      .orderBy("datetime_utc")
      .select(col("datetime_local").cast("string")).as[String].head()
    assert(local == "2024-07-15 12:00:00") // CEST = UTC+2
  }

  test("O10 shard export: per-file cap held, hash ranges disjoint, nothing lost") {
    val dir = tmpDir()
    val src = graft.Tables.documents(spark, sfDir)
      .select(col("doc_id"), org.apache.spark.sql.functions.md5(col("text")).as("h"))
    src.repartitionByRange(4, col("h"))
      .sortWithinPartitions(col("h"))
      .write.option("maxRecordsPerFile", 30)
      .mode("overwrite").parquet(dir)
    val perFile = spark.read.parquet(dir)
      .groupBy(org.apache.spark.sql.functions.input_file_name().as("f"))
      .agg(org.apache.spark.sql.functions.count(col("h")).as("n"),
        org.apache.spark.sql.functions.min(col("h")).as("mn"),
        org.apache.spark.sql.functions.max(col("h")).as("mx"))
      .as[(String, Long, String, String)].collect()
    assert(perFile.length >= 2, "export produced a single file — cap inert")
    assert(perFile.forall(_._2 <= 30),
      s"file over cap: ${perFile.filter(_._2 > 30).mkString(",")}")
    // sorted-by-hash export ⇒ file hash ranges only touch at boundaries
    val sorted = perFile.sortBy(_._3)
    sorted.sliding(2).foreach {
      case Array(a, b) => assert(b._3 >= a._4,
        s"overlapping shard ranges: ${a._1} [${a._3},${a._4}] vs ${b._1} ${b._3}")
      case _ =>
    }
    // content parity (the driver gate's claim, asserted here too)
    val back = spark.read.parquet(dir)
    assert(back.count() == src.count())
    assert(back.except(src).isEmpty && src.except(back).isEmpty)
  }
}
