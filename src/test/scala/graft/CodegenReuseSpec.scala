package graft

import graft.lake.Lake
import graft.query.Reader
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.expressions.Literal
import org.apache.spark.sql.execution.{FileSourceScanExec, FilterExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.functions._

/** A warm JVM compiles nothing for a query shape it has already run: the
  * codegen cache holds the engine's working set (`Tables.configure`) and
  * filter constants reach generated code as references, not source text
  * ([[BindFilterConstants]]).
  */
class CodegenReuseSpec extends SparkSpec with AdaptiveSparkPlanHelper {
  import spark.implicits._

  private def compiles: Long = CodegenMetrics.METRIC_COMPILATION_TIME.getCount

  /** Classes compiled while `body` runs, and its result. */
  private def compiled[T](body: => T): (Long, T) = {
    val before = compiles
    val out = body
    (compiles - before, out)
  }

  private def filters(p: SparkPlan): Seq[FilterExec] =
    collectWithSubqueries(p) { case f: FilterExec => f }

  private def bound(df: DataFrame): Int =
    filters(df.queryExecution.executedPlan)
      .map(_.condition.collect { case b: BoundLiteral => b }.size).sum

  test("more distinct shapes than Spark's 100-entry cache compile once per JVM") {
    // a projection constant is part of the generated source, so each i is
    // its own shape; the rule leaves projections alone
    def pass(): Seq[Long] = (1 to 120).map { i =>
      spark.range(0, 64, 1, 1).selectExpr(s"id * $i + $i AS v")
        .as[Long].collect().sum
    }
    val (first, sums) = compiled(pass())
    assert(sums == (1 to 120).map(_ * 2080L))
    assert(first > 100, s"the shapes compiled only $first classes")
    val (second, again) = compiled(pass())
    assert(again == sums)
    assert(second == 0, s"a warm rerun of 120 shapes compiled $second classes")
  }

  /** One month of hourly `diario` prices: precio = hour index / 4. */
  private lazy val lake: String = {
    val path = tmpDir() + "/lake"
    val rows = spark.range(31 * 24).select(
      timestamp_seconds(lit(1704067200L) + col("id") * 3600)
        .as("datetime_utc"),
      lit(1).as("id_mercado"), (col("id") / 4.0).as("precio"),
      lit(1).as("batch_id"))
    Lake.upsert(spark, rows, path, "diario",
      Seq("datetime_utc", "id_mercado"), "batch_id")
    path
  }

  private def priceTotals(s: SparkSession, from: String, to: String) =
    Reader.precios(s, lake, "diario", Seq(1), from, to)
      .agg(count(lit(1)), sum("precio")).as[(Long, Double)].head()

  /** Hours in [from 00:00, to 00:00] and their precio sum. */
  private def expected(fromDay: Int, toDay: Int): (Long, Double) = {
    val hours = ((fromDay - 1) * 24) to ((toDay - 1) * 24)
    (hours.size.toLong, hours.map(_ / 4.0).sum)
  }

  test("a precios scan with a new date range compiles no class") {
    assert(priceTotals(spark, "2024-01-03", "2024-01-10") == expected(3, 10))
    val (n, got) = compiled(priceTotals(spark, "2024-01-12", "2024-01-20"))
    assert(got == expected(12, 20))
    assert(n == 0, s"the second date range compiled $n classes")
  }

  test("the filtered read explains and pushes down as the literal form") {
    val s = spark.newSession()
    s.conf.set("spark.sql.adaptive.enabled", "false")
    val qe = Reader.precios(s, lake, "diario", Seq(1),
      "2024-01-03", "2024-01-10").queryExecution
    // sparkPlan is the physical plan before the preparation rules ran
    def scan(p: SparkPlan) =
      p.collectFirst { case f: FileSourceScanExec => f }.get.metadata
    def cond(p: SparkPlan) = p.collectFirst { case f: FilterExec => f }.get
    assert(scan(qe.executedPlan) == scan(qe.sparkPlan))
    assert(scan(qe.executedPlan)("PushedFilters")
      .contains("GreaterThanOrEqual(datetime_utc,2024-01-03 00:00:00.0)"))
    val (lit0, bound0) = (cond(qe.sparkPlan), cond(qe.executedPlan))
    assert(lit0.condition.toString == bound0.condition.toString)
    assert(lit0.condition.sql == bound0.condition.sql)
    assert(bound0.condition.collect { case b: BoundLiteral => b }.size == 2)
    val asLiterals = qe.executedPlan.transformAllExpressions {
      case b: BoundLiteral => b.lit
    }
    assert(asLiterals.treeString(verbose = true) ==
      qe.executedPlan.treeString(verbose = true))
    assert(qe.explainString(org.apache.spark.sql.execution.FormattedMode)
      .contains("2024-01-10 00:00:00"))
  }

  test("bound constants give the same rows with AQE off and without whole-stage codegen") {
    val path = tmpDir() + "/typed"
    spark.range(200).select(
      col("id").cast("int").as("i"), (col("id") * 1000000007L).as("l"),
      date_add(lit("2024-01-01").cast("date"), col("id").cast("int")).as("d"),
      timestamp_seconds(lit(1704067200L) + col("id") * 3600).as("t"),
      (col("id") / 4.0).as("x"), (col("id") / 8.0).cast("float").as("f"),
      (col("id") % 30).cast("short").as("s"),
      (col("id") % 7).cast("byte").as("b"))
      .write.parquet(path)
    val all = spark.read.parquet(path).collect()
    def day(r: Row) = r.getDate(2).toLocalDate.toEpochDay
    def sec(r: Row) = r.getTimestamp(3).getTime / 1000
    val cases: Seq[(String, Row => Boolean)] = Seq(
      "i > 17 AND i <= 150" -> (r => r.getInt(0) > 17 && r.getInt(0) <= 150),
      "l IN (3000000021, 5000000035, 7)" ->
        (r => Set(3000000021L, 5000000035L, 7L)(r.getLong(1))),
      "d >= DATE '2024-05-01'" -> (r => day(r) >= 19844),
      "t < TIMESTAMP '2024-01-03 00:00:00'" -> (r => sec(r) < 1704240000L),
      "x = 12.25 OR x > 45.5" -> (r => r.getDouble(4) == 12.25 ||
        r.getDouble(4) > 45.5),
      "f >= CAST(3.5 AS FLOAT)" -> (r => r.getFloat(5) >= 3.5f),
      "s IN (CAST(1 AS SMALLINT), CAST(29 AS SMALLINT))" ->
        (r => Set[Short](1, 29)(r.getShort(6))),
      "b <> CAST(3 AS TINYINT) AND b <=> CAST(4 AS TINYINT)" ->
        (r => r.getByte(7) == 4))
    val aqeOff = spark.newSession()
    aqeOff.conf.set("spark.sql.adaptive.enabled", "false")
    val noWsc = spark.newSession()
    noWsc.conf.set("spark.sql.codegen.wholeStage", "false")
    for ((where, keep) <- cases; s <- Seq(spark, aqeOff, noWsc)) {
      val df = s.read.parquet(path).where(where).agg(count(lit(1)), sum("i"))
      // collected on df itself, so an adaptive plan is final when inspected
      val got = df.collect().map(r => (r.getLong(0), Option(r.get(1)))).head
      val rows = all.filter(keep)
      assert(rows.nonEmpty && rows.length < all.length, where)
      assert(got == (rows.length.toLong, Some(rows.map(_.getInt(0).toLong).sum)),
        s"$where on ${s.conf.get("spark.sql.adaptive.enabled")}/" +
          s.conf.get("spark.sql.codegen.wholeStage"))
      assert(bound(df) > 0, s"no bound constant in: $where")
    }
  }

  test("a bound constant evaluates, prints and folds like no literal") {
    val ts = Literal(java.sql.Timestamp.valueOf("2024-01-03 00:00:00"))
    val b = BoundLiteral(ts)
    assert(b.eval() == ts.value && b.toString == ts.toString && b.sql == ts.sql)
    assert(!b.foldable && !b.nullable)
  }
}
