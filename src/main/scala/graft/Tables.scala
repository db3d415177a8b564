package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Table loaders + numeric-parity helpers shared by every registered query.
  *
  * Numeric policy (SURVEY.md §7.4.4): every aggregated double is first cast to
  * DECIMAL at a scale that exactly represents the source values (prices and
  * quantities carry ≤2 decimal digits; price×discount products carry ≤4), so
  * Spark and the DuckDB oracle aggregate *identical exact decimals* and the
  * result is independent of floating-point summation order. The final cast
  * back to DOUBLE is exact and keeps the published schema double-typed.
  */
object Tables {

  def load(s: SparkSession, dir: String, name: String): DataFrame =
    s.read.parquet(s"$dir/$name.parquet")

  def lineitem(s: SparkSession, dir: String): DataFrame = load(s, dir, "lineitem")
  def orders(s: SparkSession, dir: String): DataFrame   = load(s, dir, "orders")
  def customer(s: SparkSession, dir: String): DataFrame = load(s, dir, "customer")
  def supplier(s: SparkSession, dir: String): DataFrame = load(s, dir, "supplier")
  def part(s: SparkSession, dir: String): DataFrame     = load(s, dir, "part")
  def nation(s: SparkSession, dir: String): DataFrame   = load(s, dir, "nation")
  def region(s: SparkSession, dir: String): DataFrame   = load(s, dir, "region")
  def documents(s: SparkSession, dir: String): DataFrame  = load(s, dir, "documents")
  def embeddings(s: SparkSession, dir: String): DataFrame = load(s, dir, "embeddings")

  /** `events.parquet` has shipped with two physical types for `ts` across
    * testdata generations: TIMESTAMP(NANOS) (which Spark's parquet reader
    * only exposes as raw longs under `nanosAsLong`, set by `configure`) and
    * plain timestamp[us]. Dispatch on the LOADED dtype so both generations
    * read identically: the nanos-long generation is truncated to micros —
    * exactly what DuckDB's `CAST(ts AS TIMESTAMP)` does on TIMESTAMP_NS —
    * and the micros generation is cast straight to session-TZ TIMESTAMP
    * (UTC here), matching the same DuckDB cast.
    */
  def events(s: SparkSession, dir: String): DataFrame = {
    val raw = load(s, dir, "events")
    val ts = raw.schema("ts").dataType match {
      case LongType => expr("timestamp_micros(ts div 1000)")
      case _        => col("ts").cast(TimestampType)
    }
    raw.withColumn("ts", ts)
  }

  /** Exact 2-decimal view of a double column (prices, quantities, values). */
  def dec2(c: Column): Column = c.cast(DecimalType(18, 2))

  /** Exact 4-decimal view (products of two 2-decimal quantities). */
  def dec4(c: Column): Column = c.cast(DecimalType(18, 4))

  /** Order-independent exact sum of a 2-decimal double, published as double.
    * Long-cents formulation (the w11 precedent): each value is snapped to
    * exact cents in the Decimal domain, but the AGGREGATION runs on a
    * primitive long buffer instead of Decimal — same correctly-rounded
    * double as CAST(SUM(DECIMAL(18,2)) AS DOUBLE) while the hot sum loop
    * stays unboxed (cents < 2^53, no overflow at any realistic scale).
    */
  def dsum2(c: Column): Column =
    sum(unscaledCol(c, 2)) / 100.0

  /** Order-independent exact sum of a 4-decimal double, published as double. */
  def dsum4(c: Column): Column =
    sum(unscaledCol(c, 4)) / 10000.0

  /** The fixed-point long built DIRECTLY (not via call_function): dsum is
    * part of the library boundary (SparkEntry.entry), and the driver's
    * bare spark-shell smoke runs in a session WITHOUT graft extensions
    * where a registry lookup would fail to resolve.
    */
  def unscaledCol(c: Column, scale: Int): Column =
    org.apache.spark.sql.GraftColumnBridge.column(
      graft.functions.FixedPointLong(
        org.apache.spark.sql.GraftColumnBridge.expression(c), scale))

  /** Numbered repartition pinned to `spark.sql.shuffle.partitions`.
    *
    * `repartition(col)` without a count leaves the exchange eligible for
    * AQE's BYTE-based coalescing — correct for IO-bound stages, but the
    * stages behind these repartitions (regexp tokenization fan-outs,
    * sliding-window frames, per-group sort+md5) are CPU-bound per ROW: a
    * few-MB shuffle under the 64 MB advisory folds into ONE task and
    * serializes the whole stage (measured on w11_rolling_fact: 2.00 s
    * coalesced vs 0.81 s pinned, local[32]; j3 profile hashes: 2.77 s vs
    * 1.07 s). Pinning to the deployment-tuned shuffle-partition count keeps
    * the operator's parallelism a deliberate knob instead of a byte-count
    * side effect — the same hazard exists on a cluster for any
    * many-rows-small-bytes CPU-heavy stage.
    */
  def pinnedRepartition(df: DataFrame, cols: Column*): DataFrame =
    df.repartition(
      df.sparkSession.conf.get("spark.sql.shuffle.partitions").toInt, cols: _*)

  /** ENGINE-WIDE intermediate-materialization policy: every shared
    * intermediate in the query paths materializes through `.mat()`, which
    * is `localCheckpoint` — blocks are EXECUTOR-LOCAL and lineage is
    * truncated. On a cluster an executor lost mid-query fails the query
    * loudly and the caller retries the job: no result changes and nothing
    * durable is lost (lake writes commit through their own path, never
    * through a mat'd block). The blocks are freed by unpersist, as
    * Bench/Verify do between queries.
    */
  def mat(df: DataFrame, eager: Boolean = true): DataFrame =
    df.localCheckpoint(eager)

  /** `df.mat()` / `df.mat(eager = false)` — sugar for `Tables.mat`. */
  implicit class GraftMatOps(private val df: DataFrame) {
    def mat(eager: Boolean = true): DataFrame = Tables.mat(df, eager)
  }

  /** `/dev/shm/graft-tmp` when the host has a writable tmpfs. */
  private lazy val shmScratch: Option[String] = {
    val shm = new java.io.File("/dev/shm")
    if (shm.isDirectory && shm.canWrite) {
      val d = new java.io.File(shm, "graft-tmp")
      d.mkdirs()
      Some(d.getAbsolutePath)
    } else None
  }

  /** The fixture/scratch directory: e2e fixtures, the streaming rows'
    * checkpoints and the DuckDB-readable fixture files land here. An
    * explicit `-Djava.io.tmpdir` wins; the JVM default `/tmp` (a bare
    * `java -cp … graft.Bench/Verify` invocation; on a disk-backed /tmp
    * every streaming commit-log write pays a real fsync) resolves to tmpfs
    * when the host has one — pass e.g. `-Djava.io.tmpdir=/tmp/graft` to keep
    * scratch on disk. Read-only: the JVM-wide property is never rewritten.
    * One lazy val, so oracle SQL strings interpolated at registry-init time
    * and query lambdas run later always agree.
    */
  lazy val tmpDir: String = {
    val jvm = System.getProperty("java.io.tmpdir")
    if (jvm == "/tmp") shmScratch.getOrElse(jvm) else jvm
  }

  /** Session defaults shared by Verify and Bench mains: UTC semantics, a
    * shuffle-partition count sized to the local core budget (not Spark's
    * default 200 — at 100 TB this is instead set to ~2-3× the executor core
    * count by the cluster conf), AQE for runtime coalescing/skew handling.
    * The tuning keys below (shuffle partitions, AQE, advisory size, open
    * cost, SMJ preference) are local defaults: a deployment's `-D<key>` or
    * `spark-submit --conf <key>=…` wins, the same precedence
    * `spark.local.dir` gets.
    */
  def configure(b: SparkSession.Builder, cpus: String): SparkSession.Builder = {
    // Scratch on tmpfs when the host has one (mirrors build.sbt's
    // javaOptions so a bare `java -cp … graft.Bench/Verify` invocation —
    // the driver's — gets the same treatment as sbt-forked JVMs): shuffle
    // and spill files are throwaway, and /tmp on this image is ext4 where
    // every block write pays a real-disk fsync. Purely a local-harness
    // knob — a production cluster sets spark.local.dir itself — and an
    // explicit -Dspark.local.dir always wins.
    if (System.getProperty("spark.local.dir") == null)
      shmScratch.foreach(b.config("spark.local.dir", _))
    // embedded Derby (the s10 JDBC round trip) logs to the CWD unless told
    // otherwise, and reads the property once, when its engine boots
    if (System.getProperty("derby.stream.error.file") == null)
      System.setProperty("derby.stream.error.file", s"$tmpDir/graft_derby.log")
    b
    .config("spark.sql.extensions", "graft.GraftExtensions")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.sql.shuffle.partitions",
      sys.props.getOrElse("spark.sql.shuffle.partitions", cpus))
    // AQE is a scale knob, not a universal win: each adaptive stage is a
    // materialization barrier + replan round-trip, which at interactive
    // (sub-second) stage sizes costs more than the coalescing saves —
    // measured 2x on the multi-stage shingle-family queries at sf0.1.
    // Default follows the deployment: ON for a real cluster run (the
    // 100 TB path needs runtime coalescing + skew splits); latency-bound
    // local work can pass -Dspark.sql.adaptive.enabled=false.
    .config("spark.sql.adaptive.enabled",
      sys.props.getOrElse("spark.sql.adaptive.enabled", "true"))
    .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
    // coalesce small shuffles all the way down to the size target instead
    // of stopping at defaultParallelism — with 32 local cores and small
    // stages, per-task overhead otherwise dominates wall time
    .config("spark.sql.adaptive.coalescePartitions.parallelismFirst", "false")
    // ...but size the target for THIS box, not a cluster: with the 64 MB
    // default, a mid-size exchange (the ~100 MB order-grain aggregates at
    // sf1) coalesces to 1-2 tasks and the whole reduce stage runs serial
    // on a 32-core machine — measured 3-4x on f14/o8/a18 at sf1. 4 MB
    // keeps sub-4MB interactive stages fully coalesced (the latency win
    // parallelismFirst=false exists for) while giving ≥32-way parallelism
    // to any exchange past ~128 MB. A real cluster run should raise it
    // back to 64m where per-task overhead amortizes across executors.
    .config("spark.sql.adaptive.advisoryPartitionSizeInBytes",
      sys.props.getOrElse(
        "spark.sql.adaptive.advisoryPartitionSizeInBytes", "4m"))
    // File-split sizing for CPU-heavy narrow ops over SMALL files: split
    // width is min(maxPartitionBytes, max(openCostInBytes, bytes/cores)),
    // so with the 4 MB openCost default a 4 MB parquet file is ONE task —
    // sc6's 1M-row JSON parse ran single-core and measured 3.3× the
    // oracle at sf1 (r13 probe: 2.0 s serial, 0.3 s split 32 ways). 128 KB
    // keeps every table wider than ~4 MB split across all local cores
    // while the bytes/cores floor still bounds tiny files to ≤|cores|
    // tasks. A many-small-files cluster lake should raise it back — there
    // the knob guards against task explosions, a local[32] single-file
    // scan has no such risk.
    .config("spark.sql.files.openCostInBytes",
      sys.props.getOrElse("spark.sql.files.openCostInBytes", "131072"))
    .config("spark.sql.legacy.parquet.nanosAsLong", "true")
    // Shuffled-hash over sort-merge when the planner may choose (explicit
    // merge/broadcast hints still win — j9's demonstration twin keeps its
    // SMJ): an equi-join needs no sorted runs, and the SMJ default exists
    // for spill safety on clusters where a build side might not fit a
    // task's memory. The picker is still guarded — SHJ is only chosen
    // when one side's estimate fits a per-task hash map (canBuildLocalHashMap:
    // side < threshold × shuffle partitions) — and AQE's skew splitter
    // handles SHJ since Spark 3.2, so the safety argument for paying two
    // full sorts per join is gone at both test and cluster scale.
    // Measured on the fixed-text sql1_tpch_q3 at sf1: 0.90 s (SMJ) →
    // 0.50 s (SHJ). A memory-tight deployment sets it back to true.
    .config("spark.sql.join.preferSortMergeJoin",
      sys.props.getOrElse("spark.sql.join.preferSortMergeJoin", "false"))
    // TypedImperativeAggregates (collect_bounded) run under
    // ObjectHashAggregateExec, whose sort-based fallback triggers at a
    // DEFAULT of 128 distinct keys per task — sized for sketches holding
    // ~MBs of state each, absurd for an aggregate whose state is ≤5 longs.
    // 1M keys ≈ tens of MBs of bounded state per task; past that the
    // sort-based fallback is the correct spill path and still yields
    // exact results.
    .config("spark.sql.objectHashAggregate.sortBased.fallbackThreshold",
      (1 << 20).toString)
    .config("spark.ui.enabled", "false")
  }
}
