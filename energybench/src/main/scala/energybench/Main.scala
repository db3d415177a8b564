package energybench

import java.nio.file.{Files, Path, Paths}
import org.apache.spark.sql.SparkSession
import scala.collection.mutable.ArrayBuffer

/** One benchmark run in one JVM: set up the workload, run its closed loop
  * for the requested seconds, check every result and write the figures
  * as JSON. `run.py` launches it and prints the report.
  */
object Main {

  /** Repetitions of the input generation; setup_s takes their median. */
  val Preparations = 3

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect {
      case Array(k, v) if k.startsWith("--") => k.drop(2) -> v
    }.toMap
    val name = opts("workload")
    val seed = opts("seed").toLong
    val seconds = opts("seconds").toDouble
    val traced = opts("trace") == "1"
    val work = Paths.get(opts("work")).toAbsolutePath
    val t0 = opts.get("t0").map(_.toLong).getOrElse(
      java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime)
    Files.createDirectories(work)

    val cpus = Runtime.getRuntime.availableProcessors
    val spark = graft.Tables.configure(
      SparkSession.builder().master(s"local[$cpus]").appName("energybench")
        .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString),
      cpus.toString).getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    Trace.install(spark.sparkContext)
    Trace.run = s"$name-$seed"
    val ready = System.currentTimeMillis()

    val w: Workload = name match {
      case "etl_backfill" => new EtlBackfill(spark, seed, EtlBackfill.DefaultScale)
      case "lake_ops" => new LakeOps(spark, seed, LakeOps.DefaultScale)
      case "corpus_dedup" => new CorpusDedup(spark, seed, CorpusDedup.DefaultSize)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }

    val preps = (1 to Preparations).map { r =>
      val d = work.resolve(s"data$r")
      val (_, s) = Workload.timed(w.prepare(d))
      s
    }
    (1 until Preparations).foreach(r => Workload.deleteTree(work.resolve(s"data$r")))
    val (_, built) = Workload.timed(w.build())
    val (_, warm) = Workload.timed(w.warmup())
    val setup = (ready - t0) / 1e3 + Stats.median(preps) + built + warm

    def run(i: Int): OpResult = {
      val t = System.nanoTime()
      try w.op(i) catch {
        case e: Exception =>
          Workload.release(spark)
          OpResult("error", 0, (System.nanoTime() - t) / 1e9,
            Some(s"op $i: ${e.getClass.getSimpleName}: ${e.getMessage}".take(500)))
      }
    }

    val result = collection.mutable.LinkedHashMap[String, Any](
      "workload" -> name, "seed" -> seed, "trace" -> traced, "cpus" -> cpus,
      "setup_s" -> setup, "setup_ready_s" -> (ready - t0) / 1e3,
      "setup_prepare_s" -> preps, "setup_build_s" -> built, "setup_warmup_s" -> warm)
    val ops =
      if (!traced) {
        // whole rounds of the mix until the requested seconds are spent,
        // at least one: every run weighs the operation kinds alike
        val done = ArrayBuffer[OpResult]()
        while (done.isEmpty || done.map(_.seconds).sum < seconds)
          done ++= (done.length until done.length + w.cycle).map(run)
        done.toSeq
      } else {
        // each operation runs three times from the same state: once to
        // compile its plans (new literals mean new generated code), then
        // untraced and traced in alternating order, so neither pass is
        // always the warmer one; their difference is the tracing overhead
        val plain = ArrayBuffer[OpResult]()
        val tracedOps = ArrayBuffer[OpResult]()
        def spent = plain.map(_.seconds).sum
        def pass(i: Int, on: Boolean): OpResult = {
          Trace.enabled = on
          try run(i) finally Trace.enabled = false
        }
        // at least two pairs, so that both orders are in the median
        while (plain.length < 2 ||
            ((spent < seconds / 2 || !w.kinds.subsetOf(tracedOps.map(_.kind).toSet)) &&
              spent < seconds * 1.5)) {
          val i = plain.length
          w.mark()
          run(i)
          w.reset()
          val first = pass(i, on = i % 2 == 1)
          w.reset()
          val second = pass(i, on = i % 2 == 0)
          if (i % 2 == 0) { plain += first; tracedOps += second }
          else { tracedOps += first; plain += second }
        }
        Trace.enabled = true
        w.probes()
        Trace.enabled = false
        val pairs = plain.zip(tracedOps)
        val overhead = Stats.median(pairs.map { case (p, t) => t.seconds - p.seconds }.toSeq)
        val share = Stats.median(pairs.map { case (p, t) => t.seconds / p.seconds - 1 }.toSeq)
        result("trace_overhead_s") = overhead
        result("trace_overhead_share") = share
        result("trace_overhead_n") = pairs.length
        result("per_layer") = PerLayer.compute(overhead, share, w.extras)
        val spans = work.getParent.resolve(s"spans-$name-$seed.jsonl")
        Trace.write(spans)
        result("spans_file") = spans.toString
        (plain ++ tracedOps).toSeq
      }
    val failed = ops.count(_.error.nonEmpty)
    val measured = ops.map(_.seconds).sum
    val lat = ops.map(_.seconds)
    val tail = Stats.tail(lat)
    result ++= Seq(
      "attempted" -> ops.length, "failed" -> failed,
      "errors" -> ops.flatMap(_.error).take(5),
      "measured_s" -> measured, "items" -> ops.map(_.items).sum,
      "items_per_s" -> ops.map(_.items).sum / measured,
      "op_p50_s" -> Stats.median(ops.filter(r => w.primary(r.kind)).map(_.seconds)),
      "op_tail_s" -> tail.map(_.value), "op_tail_pct" -> tail.map(_.percentile),
      "op_count" -> ops.length, "op_seconds" -> lat,
      "by_kind" -> ops.groupBy(_.kind).map { case (k, rs) =>
        val xs = rs.map(_.seconds)
        val t = Stats.tail(xs)
        k -> Map("n" -> xs.length, "p50_s" -> Stats.median(xs),
          "tail_s" -> t.map(_.value), "tail_pct" -> t.map(_.percentile))
      },
      "dedup_recall" -> w.dedupRecall,
      "extras" -> w.extras,
      "gc_s" -> gcSeconds,
      "peak_rss_mb" -> peakRssMb)
    spark.stop()
    Files.write(Paths.get(opts("out")), Json.render(result).getBytes("UTF-8"))
  }

  def gcSeconds: Double = {
    import scala.jdk.CollectionConverters._
    java.lang.management.ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime.max(0L)).sum / 1e3
  }

  /** VmHWM: the JVM's peak resident set. */
  def peakRssMb: Double = {
    import scala.jdk.CollectionConverters._
    Files.readAllLines(Paths.get("/proc/self/status")).asScala
      .find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toDouble / 1024).getOrElse(Double.NaN)
  }
}
