package energybench

import java.nio.file.Path
import graft.SparkEntry
import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import scala.jdk.CollectionConverters._

/** Corpus curation through the registered queries over two seeded
  * corpora, each written as documents.parquet in a directory of its own:
  * a duplicate-heavy one and a low-multiplicity one, on which the engine
  * takes its content-grain and its id-grain dedup plan. A round runs the
  * full curation pipeline and near-duplicate dedup apply on each.
  */
final class CorpusDedup(spark: SparkSession, seed: Long, size: Int) extends Workload {
  import CorpusDedup._
  import Workload._

  private var dirs: Map[String, Path] = Map.empty
  private var corpora: Map[String, IndexedSeq[CorpusGen.Doc]] = Map.empty
  private val recalls = collection.mutable.ArrayBuffer[Double]()

  def prepare(d: Path): Unit = {
    dirs = Mixes.map(m => m.name -> d.resolve(m.name)).toMap
    corpora = Mixes.map(m => m.name -> CorpusGen.generate(seed, size, m)).toMap
    Mixes.foreach { m =>
      spark.createDataFrame(corpora(m.name).map(x =>
          Row(x.id, x.text, Seq("es", "en", "de")((x.id % 3).toInt), s"src${x.id % 5}",
            x.text.length.toLong)).asJava, Schema)
        .coalesce(1).write.parquet(dirs(m.name).resolve("documents.parquet").toString)
    }
  }

  /** One round. This also runs the engine's one-time corpus probe (the
    * dedup grain decision, memoized per corpus directory) on both corpora.
    */
  def warmup(): Unit = {
    Ops.foreach { o =>
      run(o).error.foreach(e => throw new IllegalStateException(s"warm-up failed: $e"))
    }
    recalls.clear()
  }

  def kinds: Set[String] = Ops.map(kind).toSet
  def cycle: Int = Ops.length
  def primary(kind: String): Boolean = kind.startsWith(Pipeline)

  def op(i: Int): OpResult = run(Ops(i % Ops.length))

  private def run(o: (String, CorpusGen.Mix)): OpResult = {
    val (name, mix) = o
    val docs = corpora(mix.name)
    val (ids, secs) = timed(Trace.span(s"op.$name") {
      val df = SparkEntry.queries(name)(spark, dirs(mix.name).toString)
      val ids = df.collect().map(_.getAs[Long]("doc_id")).toSet
      if (name == Pipeline) Trace.fact("docs_dropped", docs.length - ids.size)
      ids
    })
    release(spark)
    val errs =
      if (name == Pipeline) checkPipeline(docs, ids)
      else {
        recalls += recall(docs, ids)
        checkDedupApply(docs, ids)
      }
    OpResult(kind(o), docs.length, secs,
      if (errs.isEmpty) None else Some(s"${mix.name}: ${errs.mkString("; ")}"))
  }

  def dedupRecall: Double = Stats.median(recalls.toSeq)

  /** Distinct-text share and largest copy count of each corpus. */
  override def extras: Map[String, Double] = Mixes.flatMap { m =>
    val (distinct, copies) = CorpusGen.multiplicity(corpora(m.name))
    Seq(s"${m.name}.distinct_share" -> distinct, s"${m.name}.max_copies" -> copies.toDouble)
  }.toMap

  /** Each curation stage and SQL function alone, traced. */
  override def probes(): Unit = Trace.span("probes") {
    val d = dirs(CorpusGen.DupHeavy.name).toString
    Stages.foreach { case (span, query) =>
      Trace.span(span) {
        val df = SparkEntry.queries(query)(spark, d)
        if (span == "llm.minhash_pairs") Trace.fact("verified_pairs", df.collect().length)
        else drain(df)
      }
      release(spark)
    }
    val text = spark.read.parquet(s"$d/documents.parquet")
    Trace.span("functions.gopher_stats")(drain(text.select(call_function("gopher_stats", col("text")))))
    Trace.span("functions.shingle_codes")(drain(text.select(expr("shingle_codes(split(text, ' '))"))))
    val codes = text.select(expr("shingle_codes(split(text, ' '))").as("hs"))
      .localCheckpoint(eager = true)
    val seeds = (1 to 12).map(k => s"${k * 40503L + 1}L").mkString(", ")
    Trace.span("functions.minhash_sig")(drain(codes.select(
      expr(s"minhash_sig(hs, array($seeds), array($seeds), 2147483647L)"))))
    release(spark)
  }
}

object CorpusDedup {
  val DefaultSize = 3000
  val Pipeline = "pipeline_curation_full_e2e"
  val Mixes: Seq[CorpusGen.Mix] = Seq(CorpusGen.DupHeavy, CorpusGen.LowMultiplicity)
  /** One round: both queries on each corpus. */
  val Ops: Seq[(String, CorpusGen.Mix)] =
    for (m <- Mixes; q <- Seq(Pipeline, "llm_dedup_apply")) yield (q, m)
  def kind(o: (String, CorpusGen.Mix)): String = s"${o._1}@${o._2.name}"
  /** Per-layer span → registered query of that curation stage. */
  val Stages: Seq[(String, String)] = Seq(
    "llm.gopher_gate" -> "llm_gopher_gate", "llm.exact_dedup" -> "llm_exact_dedup",
    "llm.minhash_pairs" -> "llm_minhash_dedup", "llm.dedup_clusters" -> "llm_dedup_clusters",
    "llm.dedup_apply" -> "llm_dedup_apply", "llm.decontaminate" -> "llm_decontaminate")

  val Schema: StructType = StructType(Seq(StructField("doc_id", LongType),
    StructField("text", StringType), StructField("lang", StringType),
    StructField("source", StringType), StructField("n_chars", LongType)))

  /** The pipeline's survivors must hold every original outside the eval
    * split (doc_id % 50 == 0) and no exact copy or junk document. An
    * original with a copy in the eval split shares its shingles with the
    * eval set, so decontamination must drop it too.
    */
  def checkPipeline(docs: Seq[CorpusGen.Doc], out: Set[Long]): Seq[String] = {
    val inEval = docs.filter(_.id % 50 == 0).map(_.kind).collect {
      case CorpusGen.Exact(of) => of
      case CorpusGen.Near(of) => of
    }.toSet
    def dropped(d: CorpusGen.Doc) = d.id % 50 == 0 || (d.kind match {
      case _: CorpusGen.Exact | CorpusGen.Junk => true
      case CorpusGen.Original => inEval(d.id)
      case _ => false
    })
    val lost = docs.filter(d => d.kind == CorpusGen.Original && !dropped(d) && !out(d.id))
    val kept = docs.filter(d => dropped(d) && out(d.id))
    Seq(
      if (lost.isEmpty) None else Some(s"pipeline dropped originals ${lost.take(5).map(_.id)}"),
      if (kept.isEmpty) None else Some(s"pipeline kept ${kept.take(5).map(d => (d.id, d.kind))}")
    ).flatten
  }

  /** Dedup apply must drop every exact copy and keep every unplanted doc. */
  def checkDedupApply(docs: Seq[CorpusGen.Doc], out: Set[Long]): Seq[String] = {
    val lost = docs.filter(d => !d.planted && !out(d.id))
    val kept = docs.filter(d => d.kind.isInstanceOf[CorpusGen.Exact] && out(d.id))
    Seq(
      if (lost.isEmpty) None else Some(s"dedup dropped unplanted ${lost.take(5).map(_.id)}"),
      if (kept.isEmpty) None else Some(s"dedup kept exact copies ${kept.take(5).map(_.id)}")
    ).flatten
  }

  /** Share of planted duplicates (exact and near) that dedup removed. */
  def recall(docs: Seq[CorpusGen.Doc], out: Set[Long]): Double = {
    val planted = docs.filter(_.planted)
    if (planted.isEmpty) 1.0 else planted.count(d => !out(d.id)).toDouble / planted.length
  }
}
