package energybench

/** Per-layer figures of a traced run, from its spans. Layer times are
  * self times: a span's duration minus the time its child spans cover.
  * A figure for a layer the workload does not exercise is 0.
  */
object PerLayer {

  /** The span names behind the `_s` metrics: metric → span. */
  val Timed: Seq[(String, String)] = Seq(
    "ingest.omie_csv_s" -> "ingest.omie_csv", "ingest.i90_melt_s" -> "ingest.i90_melt",
    "transform.esios_s" -> "transform.esios", "transform.omie_s" -> "transform.omie",
    "transform.i90_s" -> "transform.i90", "lake.upsert_s" -> "lake.upsert",
    "query.precios_scan_p50_s" -> "query.precios_scan",
    "query.precios_multi_p50_s" -> "query.precios_multi",
    "query.fact_join_p50_s" -> "query.fact_join", "query.rolling_p50_s" -> "query.rolling",
    "operators.quantiles_p50_s" -> "operators.quantiles",
    "operators.winsorize_p50_s" -> "operators.winsorize", "link.p50_s" -> "link.link",
    "llm.gopher_gate_s" -> "llm.gopher_gate", "llm.exact_dedup_s" -> "llm.exact_dedup",
    "llm.minhash_pairs_s" -> "llm.minhash_pairs",
    "llm.dedup_clusters_s" -> "llm.dedup_clusters", "llm.dedup_apply_s" -> "llm.dedup_apply",
    "llm.decontaminate_s" -> "llm.decontaminate",
    "functions.shingle_codes_s" -> "functions.shingle_codes",
    "functions.minhash_sig_s" -> "functions.minhash_sig",
    "functions.gopher_stats_s" -> "functions.gopher_stats")

  private val PureReads = Set("query.precios_scan", "query.precios_multi")

  def compute(overheadS: Double, overheadShare: Double,
      extras: Map[String, Double]): Map[String, Double] =
    compute(Trace.allSpans, Trace.factsOf, Trace.sparkCounters(), overheadS,
      overheadShare, extras)

  def compute(spans: Seq[Span], facts: Int => Map[String, Double],
      counters: Map[Int, SparkCounters], overheadS: Double, overheadShare: Double,
      extras: Map[String, Double]): Map[String, Double] = {
    val self = Trace.selfSeconds(spans)
    val kids = spans.groupBy(_.parent)
    def subtree(s: Span): Seq[Span] = s +: kids.getOrElse(s.id, Nil).flatMap(subtree)
    val trees = spans.filter(_.parent == -1).map(r => r -> subtree(r))
    val ops = trees.filterNot(_._1.name == "probes")

    def fact(s: Span, k: String) = facts(s.id).getOrElse(k, 0.0)
    /** Median over the roots that contain `name` of a per-root sum. */
    def perRoot(pred: Span => Boolean, f: Span => Double): Double = {
      val xs = trees.map(_._2.filter(pred)).filter(_.nonEmpty).map(_.map(f).sum)
      if (xs.isEmpty) 0.0 else Stats.median(xs)
    }
    def named(n: String): Span => Boolean = _.name == n
    def prefixed(p: String): Span => Boolean = _.name.startsWith(p)
    def ratio(a: Double, b: Double) = if (b == 0) 0.0 else a / b
    def spark(f: SparkCounters => Long): Double = ratio(ops.map(_._2.map(s =>
      counters.get(s.id).map(f).getOrElse(0L)).sum).sum.toDouble, ops.length)
    val reads = spans.filter(s => PureReads(s.name))
    val upserts = spans.filter(named("lake.upsert"))
    val transforms = spans.filter(prefixed("transform."))
    def out(s: Span) = counters.get(s.id).map(_.outputRecords).getOrElse(0L).toDouble
    def in(s: Span) = counters.get(s.id).map(_.inputRecords).getOrElse(0L).toDouble
    def inBytes(s: Span) = counters.get(s.id).map(_.inputBytes).getOrElse(0L).toDouble
    def mean(xs: Seq[Double]) = if (xs.isEmpty) 0.0 else xs.sum / xs.length

    Timed.map { case (m, n) => m -> perRoot(named(n), s => self(s.id)) }.toMap ++ Map(
      "ingest.rows_out" -> perRoot(prefixed("ingest."), fact(_, "rows_out")),
      "transform.rows_out_per_in" -> ratio(transforms.map(fact(_, "rows_out")).sum,
        transforms.map(fact(_, "rows_in")).sum),
      "lake.bytes_written" -> perRoot(named("lake.upsert"), fact(_, "bytes_written")),
      "lake.files_written" -> perRoot(named("lake.upsert"), fact(_, "files_written")),
      "lake.partitions_rewritten" ->
        perRoot(named("lake.upsert"), fact(_, "partitions_rewritten")),
      "lake.rewrite_amplification" ->
        ratio(upserts.map(out).sum, upserts.map(fact(_, "rows_incoming")).sum),
      "lake.scan_files_per_read" -> mean(reads.map(fact(_, "scan_files"))),
      "lake.scan_bytes_per_read" -> mean(reads.map(inBytes)),
      "lake.rows_scanned_per_row_returned" ->
        ratio(reads.map(in).sum, reads.map(fact(_, "rows_returned")).sum),
      "lake.bytes_per_live_row" -> extras.getOrElse("lake_bytes_per_row", 0.0),
      "link.pairs_matched" -> mean(spans.filter(named("link.link")).map(fact(_, "pairs"))),
      "llm.verified_pairs" -> perRoot(named("llm.minhash_pairs"), fact(_, "verified_pairs")),
      "llm.docs_dropped" ->
        perRoot(named("op.pipeline_curation_full_e2e"), fact(_, "docs_dropped")),
      "spark.jobs" -> spark(_.jobs), "spark.tasks" -> spark(_.tasks),
      "spark.shuffle_write_bytes" -> spark(_.shuffleWriteBytes),
      "spark.spill_bytes" -> spark(_.spillBytes),
      "spark.input_bytes" -> spark(_.inputBytes),
      "spark.gc_s" -> spark(_.gcMs) / 1e3,
      "trace.overhead_s" -> overheadS,
      "trace.overhead_share" -> overheadShare)
  }
}
