package graft

import org.apache.spark.sql.SparkSession

/** Dev tool: time individual registered queries (args = query names; no args
  * = all), printing per-query seconds after one warm-up pass of the scans.
  * Not part of the driver contract — Bench.scala is the measured artifact.
  */
object Profile {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = Tables.configure(
      SparkSession.builder().master(s"local[$cpus]"), cpus).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val names = if (args.nonEmpty) args.toSeq
                else SparkEntry.queries.keys.toSeq.sorted
    // dev plan hooks for TRAINING jobs that end in a driver collect (the
    // char-bigram LM model builds): the declared-query plan dumps only
    // capture the post-collect scoring pass, so these expose the
    // pre-collect frames by name for explain/timing. Not declared
    // queries — never in Bench/Verify.
    val devFrames: Map[String, (org.apache.spark.sql.SparkSession, String) =>
        org.apache.spark.sql.DataFrame] = Map(
      "dev_lm_train_model" -> ((s, d) =>
        graft.queries.Curation.lmModelFrame(s, d,
          org.apache.spark.sql.functions.lit(true))),
      "dev_dsir_train_model" -> ((s, d) =>
        graft.queries.Curation.lmModelFrameDual(s, d,
          org.apache.spark.sql.functions.col("lang") === "en")),
      // llm_semdedup's learned-quantizer assignment stage, pre-mat: the
      // declared row's dump shows only Scan ExistingRDD above the
      // checkpoint, so the native pqcodes argmin is dumpable only here
      "dev_semdedup_assign" -> ((s, d) =>
        graft.llm.Similarity.semDedupAssignFrame(
          Tables.embeddings(s, d), nLists = 8)))
    val reps = sys.env.getOrElse("SPARK_GRAFT_REPS", "1").toInt
    val explain = sys.env.get("SPARK_GRAFT_EXPLAIN").contains("1")
    // Spark jobs per query invocation: at bench scale many sub-second rows
    // are job-scheduling-floor-bound (the 8-core ≈ 32-core scaling block),
    // so job count per row is the direct measure of materialization
    // overhead the wall clock hides. Classes compiled and Janino seconds
    // sit beside it: a warm rep that still compiles has outgrown the
    // codegen cache or inlines a per-call constant.
    val jobs = new java.util.concurrent.atomic.AtomicInteger
    spark.sparkContext.addSparkListener(
      new org.apache.spark.scheduler.SparkListener {
        override def onJobStart(
            js: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
          jobs.incrementAndGet()
      })
    def compiles = org.apache.spark.metrics.source.CodegenMetrics
      .METRIC_COMPILATION_TIME.getCount
    def compileNanos = org.apache.spark.sql.catalyst.expressions.codegen
      .CodeGenerator.compileTime
    names.foreach { n =>
      val fn = devFrames.getOrElse(n, SparkEntry.queries(n))
      if (explain) {
        println(s"===== $n =====")
        // formatted mode (guide §7.2): numbered operator list + per-node
        // details (PushedFilters, ReadSchema, join build side, exchange
        // partitioning) — the shape the plan artifacts under plans/ carry
        println(fn(spark, sfDir).queryExecution.explainString(
          org.apache.spark.sql.execution.FormattedMode))
      } else (1 to reps).foreach { r =>
        Thread.sleep(200); jobs.set(0)
        val (c0, n0) = (compiles, compileNanos)
        val t0 = System.nanoTime()
        fn(spark, sfDir).write.format("noop").mode("overwrite").save()
        val secs = (System.nanoTime() - t0) / 1e9
        Thread.sleep(200) // listener bus drains async; dev tool only
        val compileSecs = (compileNanos - n0) / 1e9
        println(f"$n%-24s rep$r $secs%8.2f s  jobs=${jobs.get}  " +
          f"compiled=${compiles - c0} ($compileSecs%.2f s)")
        // same per-rep hygiene as Bench: leaked caches AND localCheckpoint
        // blocks would otherwise accumulate across reps and skew timings
        spark.catalog.clearCache()
        spark.sparkContext.getPersistentRDDs.values
          .foreach(_.unpersist(blocking = false))
      }
    }
    spark.stop()
  }
}
