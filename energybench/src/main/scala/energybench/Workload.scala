package energybench

import java.nio.file.{Files, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import scala.jdk.CollectionConverters._

/** Outcome of one closed-loop operation. `items` is the work it completed
  * in the workload's unit (lake rows, operations, documents); `error`
  * says why its result check failed, if it did.
  */
final case class OpResult(kind: String, items: Long, seconds: Double,
    error: Option[String])

/** A benchmark workload: `prepare` makes the seeded inputs in a fresh
  * directory, `build` pre-builds any state the operations start from,
  * `warmup` runs until lazy set-up and JIT are done, and `op(i)` runs and
  * checks the i-th operation of the seed's fixed sequence.
  */
trait Workload {
  def prepare(dir: Path): Unit
  def build(): Unit = ()
  def warmup(): Unit
  def op(i: Int): OpResult
  /** Remember the current state, for `reset` to return to. */
  def mark(): Unit = ()
  /** Return to the state of the last `mark` (stateless workloads: no-op). */
  def reset(): Unit = ()
  /** Operation kinds the traced run must cover. */
  def kinds: Set[String]
  /** Operations in one round of the workload's mix; a run measures whole
    * rounds, so every run weighs the operation kinds alike.
    */
  def cycle: Int
  /** The workload's main operation kind, whose median is op_p50_s. */
  def primary(kind: String): Boolean
  /** Share of planted duplicate records the engine removed. */
  def dedupRecall: Double
  /** Workload-specific figures for the human-readable report. */
  def extras: Map[String, Double] = Map.empty
  /** Work made only by the traced run (per-layer probes). */
  def probes(): Unit = ()
}

object Workload {

  /** Time `body`, returning (result, seconds). */
  def timed[T](body: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = body
    (r, (System.nanoTime() - t0) / 1e9)
  }

  /** Free the blocks of every checkpoint an operation left behind. */
  def release(spark: SparkSession): Unit = {
    spark.catalog.clearCache()
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
  }

  /** Run a DataFrame to completion without keeping its rows. */
  def drain(df: DataFrame): Unit =
    df.write.format("noop").mode("overwrite").save()

  def parquetFiles(root: Path): Seq[(Path, Long)] =
    if (!Files.exists(root)) Nil
    else Files.walk(root).iterator().asScala
      .filter(p => Files.isRegularFile(p) && p.getFileName.toString.endsWith(".parquet"))
      .map(p => (p, Files.size(p))).toSeq

  def deleteTree(p: Path): Unit =
    if (Files.exists(p))
      Files.walk(p).iterator().asScala.toSeq.reverse.foreach(Files.delete)

  def close(a: Double, b: Double, rel: Double = 1e-6): Boolean =
    math.abs(a - b) <= rel * math.max(1.0, math.max(math.abs(a), math.abs(b)))

  /** Lake write figures of one upsert, recorded against the open span:
    * files and bytes the write added, partitions it rewrote.
    */
  def traceUpsert(root: Path, incoming: Long)(upsert: => Unit): Unit =
    if (!Trace.enabled) upsert
    else {
      val before = parquetFiles(root).map(_._1).toSet
      upsert
      val added = parquetFiles(root).filterNot(f => before.contains(f._1))
      Trace.fact("files_written", added.size)
      Trace.fact("bytes_written", added.map(_._2).sum.toDouble)
      Trace.fact("partitions_rewritten", added.map(_._1.getParent).distinct.size)
      Trace.fact("rows_incoming", incoming)
    }
}
