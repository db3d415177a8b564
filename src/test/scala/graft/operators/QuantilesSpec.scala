package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DoubleType

/** The exactness claim for the scale-safe quantile paths: both must be
  * BIT-IDENTICAL to Spark's percentile() (which r9 proved ≡ DuckDB
  * quantile_cont under the round-6 gate) on every distribution shape the
  * kernel's narrowing can hit — uniform-ish, heavy ties, tiny n, single
  * value, and a rank forced through multiple narrowing passes.
  */
class QuantilesSpec extends SparkSpec {

  private def referencePs(df: org.apache.spark.sql.DataFrame, value: String,
      ps: Seq[Double]): Seq[Double] = {
    val exprs = ps.map(p => expr(s"percentile($value, ${p}D)"))
    val r = df.agg(exprs.head, exprs.tail: _*).head()
    ps.indices.map(r.getDouble)
  }

  test("histogram-bracket percentiles match percentile() bit-exactly") {
    import spark.implicits._
    val df = graft.Tables.lineitem(spark, sfDir)
      .select(col("l_extendedprice").cast(DoubleType).as("v"))
    val ps = Seq(0.0, 0.01, 0.25, 0.5, 0.9, 0.99, 1.0)
    val got = Quantiles.percentiles(df, "v", ps)
    val want = referencePs(df, "v", ps)
    assert(got == want, s"got $got want $want")
  }

  test("bracket refinement survives heavy ties and forced refinement") {
    import spark.implicits._
    // 90% of mass on one value (the span that cannot shrink by range),
    // leafLimit 16 forces narrowing passes even at this size
    val vals = (1 to 2000).map(i => if (i % 10 == 0) i.toDouble else 42.0)
    val df = vals.toDF("v")
    val ps = Seq(0.1, 0.5, 0.89, 0.95)
    val got = Quantiles.percentiles(df, "v", ps, leafLimit = 16)
    val want = referencePs(df, "v", ps)
    assert(got == want, s"got $got want $want")
  }

  test("tiny inputs: single row and two distinct values interpolate") {
    import spark.implicits._
    val one = Seq(7.25).toDF("v")
    assert(Quantiles.percentiles(one, "v", Seq(0.0, 0.5, 1.0))
      == Seq(7.25, 7.25, 7.25))
    val two = Seq(1.0, 2.0).toDF("v")
    assert(Quantiles.percentiles(two, "v", Seq(0.5, 0.75))
      == referencePs(two, "v", Seq(0.5, 0.75)))
  }

  test("grouped value-counts quantiles match percentile() per group") {
    import spark.implicits._
    val df = graft.Tables.documents(spark, sfDir)
      .select(col("source"),
        size(split(col("text"), " ")).cast(DoubleType).as("n_tok"))
    val got = Quantiles.grouped(df, Seq("source"), "n_tok",
      Seq(0.5, 0.9), Seq("p50", "p90"))
    val want = df.groupBy("source").agg(
      expr("percentile(n_tok, 0.5D)").as("p50"),
      expr("percentile(n_tok, 0.9D)").as("p90"))
    val j = got.as("g").join(want.as("w"), "source")
      .select(col("g.p50") === col("w.p50"), col("g.p90") === col("w.p90"))
      .collect()
    assert(j.nonEmpty && j.forall(r => r.getBoolean(0) && r.getBoolean(1)))
  }

  test("astronomically wide domains refine without overflow") {
    import spark.implicits._
    // (max − min) overflows Double.MaxValue — the regime where naive
    // equal-width bin arithmetic over the whole range turns Inf/NaN; the
    // log buckets and the per-bucket narrowing never span both signs
    val vals = (0 until 4000).map { i =>
      if (i % 2 == 0) -1.5e308 + i * 1.0e300 else 1.5e308 - i * 1.0e300
    }
    val df = vals.toDF("v")
    val ps = Seq(0.01, 0.5, 0.99)
    val got = Quantiles.percentiles(df, "v", ps, leafLimit = 64)
    val want = referencePs(df, "v", ps)
    assert(got == want, s"got $got want $want")
  }

  test("NaN and Inf inputs are rejected loudly, not silently mis-ranked") {
    import spark.implicits._
    val nan = Seq(1.0, Double.NaN, 3.0).toDF("v")
    intercept[IllegalArgumentException] {
      Quantiles.percentiles(nan, "v", Seq(0.5))
    }
    val inf = Seq(1.0, Double.PositiveInfinity).toDF("v")
    intercept[IllegalArgumentException] {
      Quantiles.percentiles(inf, "v", Seq(0.5))
    }
  }

  test("refinement re-scans push their range conjunct in the REAL plans") {
    // audits the predicates the narrowing passes actually generate (not a
    // hand-built lookalike): capture every executed plan during a run
    // whose rank spans exceed leafLimit and require that some narrowing
    // pass reached the parquet reader with a pushed range filter on the
    // source column
    import org.apache.spark.sql.execution.QueryExecution
    val plans = scala.collection.mutable.ArrayBuffer[String]()
    val l = new org.apache.spark.sql.util.QueryExecutionListener {
      def onSuccess(f: String, qe: QueryExecution, d: Long): Unit =
        plans.synchronized { plans += qe.executedPlan.toString }
      def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    spark.listenerManager.register(l)
    try {
      val df = graft.Tables.lineitem(spark, sfDir)
        .select(col("l_extendedprice").cast(DoubleType).as("p"))
      // leafLimit 4 sends both quartile ranks through narrowing passes;
      // each pass's range conjunct must reach the parquet reader
      Quantiles.percentiles(df, "p", Seq(0.25, 0.75), leafLimit = 4)
      def pushed = plans.synchronized {
        plans.exists(p => p.contains("PushedFilters") &&
          p.contains("GreaterThanOrEqual(l_extendedprice"))
      }
      val deadline = System.currentTimeMillis + 15000
      while (!pushed && System.currentTimeMillis < deadline)
        Thread.sleep(100) // listener events post asynchronously
      assert(pushed, {
        val scans = plans.synchronized {
          plans.flatMap(_.linesIterator.filter(_.contains("FileScan")))
            .distinct.mkString("\n")
        }
        s"no narrowing pass pushed its range conjunct; saw ${plans.size} plans; scans:\n$scans"
      })
    } finally spark.listenerManager.unregister(l)
  }

  test("dense single-bucket ranks narrow over several passes, exact") {
    import spark.implicits._
    import org.apache.spark.sql.execution.QueryExecution
    // 4000 values one ulp apart plus a tail at 1.005 — all one log bucket.
    // The first equal-width pass leaves the dense run in one bin (a bin
    // is ~5.5e9 ulps wide) and only the second separates its values, so
    // every dense rank needs two narrowing passes under leafLimit 16
    val u = math.ulp(1.0)
    val vals = Seq.tabulate(4000)(i => 1.0 + i * u) ++ Seq.fill(1000)(1.005)
    val df = vals.toDF("v").repartition(5)
    val ps = Seq(0.1, 0.5, 0.79, 0.9)
    val want = referencePs(df, "v", ps)
    val plans = scala.collection.mutable.ArrayBuffer[String]()
    val l = new org.apache.spark.sql.util.QueryExecutionListener {
      def onSuccess(f: String, qe: QueryExecution, d: Long): Unit =
        plans.synchronized { plans += qe.executedPlan.toString }
      def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    spark.listenerManager.register(l)
    try {
      val got = Quantiles.percentiles(df, "v", ps, leafLimit = 16)
      assert(got == want, s"got $got want $want")
      // pass 1 + two narrowing passes + the region scan
      val deadline = System.currentTimeMillis + 15000
      while (plans.synchronized(plans.size) < 4 &&
        System.currentTimeMillis < deadline) Thread.sleep(100)
      assert(plans.synchronized(plans.size) >= 4,
        s"expected >= 4 jobs, saw ${plans.size}")
    } finally spark.listenerManager.unregister(l)
  }

  test("grouped excludes nulls and keeps single-row groups exact") {
    import spark.implicits._
    val df = Seq(("a", Some(1.0)), ("a", Some(3.0)), ("a", None),
      ("b", Some(5.0))).toDF("k", "v")
    val got = Quantiles.grouped(df, Seq("k"), "v", Seq(0.5), Seq("p50"))
      .orderBy("k").collect()
    assert(got.map(r => (r.getString(0), r.getDouble(1))).toSeq
      == Seq(("a", 2.0), ("b", 5.0)))
  }
}
