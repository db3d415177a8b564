package graft.lake

import graft.SparkSpec
import org.apache.spark.sql.functions._

class LakeSpec extends SparkSpec {
  import spark.implicits._

  private def batch(prec: Int, rows: (String, Int, Double)*) =
    rows.toSeq.toDF("dt", "id_mercado", "precio")
      .withColumn("datetime_utc", col("dt").cast("timestamp")).drop("dt")
      .withColumn("batch_id", lit(prec))

  test("S7/A4 upsert is an idempotent keep-last merge per key") {
    val path = tmpDir() + "/lake"
    Lake.upsert(spark, batch(1,
      ("2024-01-01 00:00:00", 1, 10.0), ("2024-01-01 00:15:00", 1, 11.0),
      ("2024-02-01 00:00:00", 1, 20.0)),
      path, "diario", Seq("datetime_utc", "id_mercado"), "batch_id")
    // second batch: corrects one row, adds one, leaves feb untouched
    Lake.upsert(spark, batch(2,
      ("2024-01-01 00:00:00", 1, 99.0), ("2024-01-01 00:30:00", 1, 12.0)),
      path, "diario", Seq("datetime_utc", "id_mercado"), "batch_id")
    val got = spark.read.parquet(path)
      .select(col("datetime_utc").cast("string"), col("precio"))
      .as[(String, Double)].collect().toMap
    assert(got == Map(
      "2024-01-01 00:00:00" -> 99.0, // corrected by batch 2 (keep-last)
      "2024-01-01 00:15:00" -> 11.0,
      "2024-01-01 00:30:00" -> 12.0,
      "2024-02-01 00:00:00" -> 20.0))
    // hive layout exists
    assert(new java.io.File(s"$path/mercado=diario/id_mercado=1/year=2024/month=1")
      .exists())
  }

  test("upsert with empty dedup keys is append-only (MIC rule)") {
    val path = tmpDir() + "/mic"
    Lake.upsert(spark, batch(1, ("2024-01-01 00:00:00", 1, 5.0)),
      path, "continuo", Nil, "batch_id")
    Lake.upsert(spark, batch(2, ("2024-01-01 00:00:00", 1, 5.0)),
      path, "continuo", Nil, "batch_id")
    assert(spark.read.parquet(path).count() == 2) // duplicates allowed
  }

  test("S11 read prunes partitions (PartitionFilters in the plan)") {
    val path = tmpDir() + "/lake2"
    Lake.upsert(spark, batch(1,
      ("2024-01-01 00:00:00", 1, 1.0), ("2024-06-01 00:00:00", 2, 2.0)),
      path, "diario", Seq("datetime_utc", "id_mercado"), "batch_id")
    val df = Lake.read(spark, path, Some("diario"), Seq(1),
      Some("2024-01-01"), Some("2024-01-31"))
    assert(df.collect().map(_.getAs[Double]("precio")).sameElements(Array(1.0)))
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters") && plan.contains("id_mercado"))
  }

  test("compaction merges small files without changing rows") {
    val path = tmpDir() + "/mic2"
    // five append-only batches → ≥5 files in the single touched partition
    (1 to 5).foreach { b =>
      Lake.upsert(spark, batch(b,
        ("2024-01-01 00:00:00", 1, b.toDouble),
        ("2024-01-01 01:00:00", 1, b + 0.5)),
        path, "continuo", Nil, "batch_id")
    }
    def files() = {
      val d = new java.io.File(
        s"$path/mercado=continuo/id_mercado=1/year=2024/month=1")
      d.listFiles().count(_.getName.endsWith(".parquet"))
    }
    def rows() = spark.read.parquet(path)
      .select(col("datetime_utc").cast("string"), col("precio"), col("batch_id"))
      .as[(String, Double, Int)].collect().sorted.toSeq
    val before = rows()
    assert(files() >= 5)
    assert(Lake.compact(spark, path, maxFiles = 1) == 1)
    assert(files() == 1, "partition not compacted to one file")
    assert(rows() == before, "compaction changed row content")
    // already compact ⇒ no-op
    assert(Lake.compact(spark, path, maxFiles = 1) == 0)
  }

  test("compaction caps per-file rows at the byte target (deterministic sizing)") {
    val path = tmpDir() + "/mic4"
    // three append batches into ONE partition → ≥3 small files
    (1 to 3).foreach { b =>
      val rows = (0 until 400).map(i =>
        (f"2024-03-01 ${i % 24}%02d:00:00", 1, b * 1000.0 + i))
      Lake.upsert(spark, batch(b, rows: _*), path, "continuo", Nil, "batch_id")
    }
    val dir = new java.io.File(
      s"$path/mercado=continuo/id_mercado=1/year=2024/month=3")
    val bytes = dir.listFiles().filter(_.getName.endsWith(".parquet"))
      .map(_.length()).sum
    val nRows = 1200L
    // target a third of the partition: n = 3 output files, and the
    // writer must cap each at ceil(rows·target/bytes) rows
    val target = bytes / 3 + 1
    val perFileCap = math.ceil(nRows.toDouble * target / bytes).toLong
    assert(Lake.compact(spark, path, maxFiles = 2, targetBytes = target) == 1)
    val perFile = spark.read.parquet(dir.getAbsolutePath)
      .groupBy(input_file_name()).count()
      .as[(String, Long)].collect().toMap
    assert(perFile.size >= 3, s"expected >=3 sized files, got ${perFile.size}")
    perFile.foreach { case (f, n) =>
      assert(n <= perFileCap, s"$f has $n rows > cap $perFileCap")
    }
    assert(perFile.values.sum == nRows, "compaction changed row count")
  }

  test("compaction touches only oversized partitions across a multi-month lake") {
    val path = tmpDir() + "/mic3"
    // month 1 gets five small batches; month 2 gets one (already compact)
    (1 to 5).foreach { b =>
      Lake.upsert(spark, batch(b, ("2024-01-01 00:00:00", 1, b.toDouble)),
        path, "continuo", Nil, "batch_id")
    }
    Lake.upsert(spark, batch(9, ("2024-02-01 00:00:00", 1, 9.0)),
      path, "continuo", Nil, "batch_id")
    val before = spark.read.parquet(path)
      .select(col("datetime_utc").cast("string"), col("precio"), col("batch_id"))
      .as[(String, Double, Int)].collect().sorted.toSeq
    // only the january partition exceeds the threshold
    assert(Lake.compact(spark, path, maxFiles = 2) == 1)
    val feb = new java.io.File(
      s"$path/mercado=continuo/id_mercado=1/year=2024/month=2")
    assert(feb.listFiles().count(_.getName.endsWith(".parquet")) == 1,
      "already-compact partition was rewritten")
    val after = spark.read.parquet(path)
      .select(col("datetime_utc").cast("string"), col("precio"), col("batch_id"))
      .as[(String, Double, Int)].collect().sorted.toSeq
    assert(after == before, "compaction changed row content")
  }

  test("O1: every part file is datetime_utc-ordered after upserts and an append") {
    val path = tmpDir() + "/o1"
    // scrambled quarter-hours over two months and three ids: consecutive
    // ids land far apart in time, so no input partition arrives sorted
    def scrambled(n: Long, prec: Int, step: Long) = spark.range(n)
      .select(
        expr(s"""TIMESTAMP '2024-01-01 00:00:00' + make_interval(0, 0, 0, 0,
                 0, CAST(((id * $step) % 5760) * 15 AS INT), 0)""")
          .as("datetime_utc"),
        (col("id") % 3 + 1).cast("int").as("id_mercado"),
        (col("id") % 97).cast("double").as("precio"),
        lit(prec).as("batch_id"))
    val keys = Seq("datetime_utc", "id_mercado")
    Lake.upsert(spark, scrambled(20000, 1, 7919), path, "diario", keys, "batch_id")
    Lake.upsert(spark, scrambled(5000, 2, 104729), path, "diario", keys, "batch_id")
    Lake.upsert(spark, scrambled(5000, 3, 7919), path, "continuo", Nil, "batch_id")
    val r = spark.read.parquet(path)
      .withColumn("f", input_file_name())
      .withColumn("mid", monotonically_increasing_id())
    val w = org.apache.spark.sql.expressions.Window.partitionBy("f").orderBy("mid")
    val (files, inversions) = r
      .withColumn("prev_dt", lag(col("datetime_utc"), 1).over(w))
      .agg(countDistinct(col("f")),
        sum(when(col("prev_dt") > col("datetime_utc"), 1L).otherwise(0L)))
      .as[(Long, Long)].head()
    assert(files >= 6, s"expected one file per (mercado, id, month), got $files")
    assert(inversions == 0, s"$inversions adjacent datetime_utc inversions")
    // the per-mercado write keeps mercado a partition column on read-back
    val perMercado = spark.read.parquet(path).groupBy("mercado").count()
      .as[(String, Long)].collect().toMap
    assert(perMercado("continuo") == 5000L)
    assert(perMercado.keySet == Set("diario", "continuo"))
  }

  test("upsert writes one file per leaf partition through one exchange and one sort") {
    import org.apache.spark.sql.execution.{QueryExecution, SortExec, SparkPlan}
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    val writes = scala.collection.mutable.ArrayBuffer[SparkPlan]()
    val l = new org.apache.spark.sql.util.QueryExecutionListener {
      def onSuccess(f: String, qe: QueryExecution, d: Long): Unit =
        if (qe.executedPlan.toString.contains("InsertIntoHadoopFsRelationCommand"))
          writes.synchronized { writes += qe.executedPlan }
      def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    val path = tmpDir() + "/shape"
    // a fresh target, 2 ids × 2 months (Jan–Feb 2024), scrambled input order
    val df = spark.range(4000).select(
      expr("""TIMESTAMP '2024-01-01 00:00:00' + make_interval(0, 0, 0, 0,
              0, CAST(((id * 7919) % 5760) * 15 AS INT), 0)""").as("datetime_utc"),
      (col("id") % 2 + 1).cast("int").as("id_mercado"),
      (col("id") % 97).cast("double").as("precio"),
      lit(1).as("batch_id"))
    spark.listenerManager.register(l)
    try {
      Lake.upsert(spark, df, path, "diario", Seq("datetime_utc", "id_mercado"),
        "batch_id")
      val deadline = System.currentTimeMillis + 15000
      while (writes.synchronized(writes.isEmpty) &&
        System.currentTimeMillis < deadline) Thread.sleep(100)
    } finally spark.listenerManager.unregister(l)
    val leaves = for {
      id <- 1 to 2; month <- 1 to 2
    } yield new java.io.File(s"$path/mercado=diario/id_mercado=$id/year=2024/month=$month")
    for (leaf <- leaves)
      assert(leaf.listFiles().count(_.getName.endsWith(".parquet")) == 1,
        s"$leaf: ${leaf.listFiles().map(_.getName).mkString(", ")}")
    assert(spark.read.parquet(path).count() == 4000)
    val plan = writes.synchronized(writes.toList) match {
      case p :: Nil => p
      case ps => fail(s"expected one write, saw ${ps.size}")
    }
    val helper = new AdaptiveSparkPlanHelper {}
    val sorts = helper.collect(plan) { case s: SortExec => s }
    assert(sorts.size == 1, s"expected one Sort in the write:\n$plan")
    val exchanges = helper.collect(plan) { case e: ShuffleExchangeExec => e }
    assert(exchanges.map(_.outputPartitioning.numPartitions) ==
      Seq(spark.conf.get("spark.sql.shuffle.partitions").toInt),
      s"expected one numbered partition-keyed exchange:\n$plan")
  }

  test("S9 latest partition") {
    val path = tmpDir() + "/lake3"
    Lake.upsert(spark, batch(1,
      ("2023-12-01 00:00:00", 1, 1.0), ("2024-03-01 00:00:00", 1, 2.0)),
      path, "diario", Seq("datetime_utc", "id_mercado"), "batch_id")
    assert(Lake.latestPartition(spark, path) == (2024, 3))
  }

  test("upsert keep-last matches a driver-side replay on random batches") {
    // seeded randomized differential test (the RandomizedOpsSpec pattern)
    // for the CORE lake semantic: random batch sequences with intra-batch
    // duplicates, keys scattered across three month partitions, replayed
    // against a plain driver-side map where a later batch always wins.
    // Values are a pure function of (key, batch) so intra-batch duplicate
    // rows are byte-identical — the same determinism rule production
    // batches follow (equal-precedence ties pick an arbitrary physical
    // row, so tied rows must agree on content).
    val rnd = new scala.util.Random(2024)
    for (round <- 1 to 3) {
      val path = tmpDir() + s"/rlake$round"
      val ref = scala.collection.mutable.Map[(String, Int), Double]()
      for (b <- 1 to 4) {
        val rows = Seq.fill(30) {
          val dt = "2024-0%d-01 00:%02d:00".format(
            1 + rnd.nextInt(3), rnd.nextInt(4) * 15)
          val id = 1 + rnd.nextInt(2)
          (dt, id, (b * 1000 + math.abs((dt, id).hashCode % 97)).toDouble)
        }
        rows.foreach { case (dt, id, v) => ref((dt, id)) = v }
        Lake.upsert(spark, batch(b, rows: _*), path, "diario",
          Seq("datetime_utc", "id_mercado"), "batch_id")
      }
      val rows = spark.read.parquet(path)
        .select(col("datetime_utc").cast("string"), col("id_mercado"),
          col("precio"))
        .as[(String, Int, Double)].collect()
      // row-count FIRST: .toMap would nondeterministically mask a
      // leftover stale duplicate for a key (review r10)
      assert(rows.length == ref.size,
        s"round $round: ${rows.length} rows for ${ref.size} keys")
      val got = rows.map(r => (r._1, r._2) -> r._3).toMap
      assert(got == ref.toMap, s"round $round diverged")
    }
  }
}
