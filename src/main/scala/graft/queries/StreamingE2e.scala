package graft.queries

import graft.Tables._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import org.apache.spark.sql.types._

/** REAL Structured Streaming runs under the driver's hash gate: each query
  * lands a deterministic fixture as parquet files, drives a `readStream` →
  * transform → memory-sink query to completion with `Trigger.AvailableNow`,
  * and returns the sink contents — so the DuckDB oracle checks what the
  * STREAM actually produced, not a batch twin of it. (The MemoryStream
  * parity specs remain; this is the stronger, driver-checked claim.)
  *
  * Determinism rules: results must not depend on file/micro-batch order —
  * the dedup keeps byte-identical duplicate rows (any survivor is the same
  * row) and the rollup runs in Complete mode (final per-window totals).
  * Follows the e2e driver-proofing rules (UUID paths, 2020s dates, dyadic
  * doubles, eager checkpoint, cleanup).
  *
  * Every row runs its stream on a session of its own ([[ownSession]]), with
  * an explicit checkpoint under `Tables.tmpDir` deleted when the row ends:
  * the settings a stream wants (one shuffle partition; RocksDB for w34)
  * never touch the caller's session, so a batch query running concurrently
  * on it keeps its partition count and state-store provider.
  */
object StreamingE2e {

  type Q = (SparkSession, String) => DataFrame

  // Shared tmpfs-aware resolution (Tables.tmpDir) so oracle SQL strings
  // interpolated at registry-init time and lambdas run later always agree.
  private def tmpDir = graft.Tables.tmpDir

  /** A streaming row's own session: a child of the caller's with a single
    * shuffle partition plus the row's `settings`. `newSession` shares the
    * SparkContext and keeps the graft extensions and every builder/SparkConf
    * setting (UTC, the tuned defaults of `Tables.configure`); the caller's
    * own conf is never written. Stateful streaming cost scales with
    * partitions × micro-batches (every batch commits a state store per
    * partition per stateful op — a stream-stream join keeps FOUR stores per
    * partition); the fixtures here are a few thousand rows, so anything
    * beyond one partition is pure commit overhead. The result SET is
    * partition-count independent (and the driver sorts before hashing).
    */
  private[graft] def ownSession(caller: SparkSession,
      settings: (String, String)*): SparkSession = {
    val own = caller.newSession()
    (("spark.sql.shuffle.partitions" -> "1") +: settings).foreach {
      case (k, v) => own.conf.set(k, v)
    }
    own
  }

  private def deleteDir(s: SparkSession, dir: String): Unit = {
    val p = new org.apache.hadoop.fs.Path(dir)
    p.getFileSystem(s.sparkContext.hadoopConfiguration).delete(p, true)
  }

  /** Run `stream` (built on a row's own session) to completion into a
    * memory sink with `Trigger.AvailableNow` and an explicit checkpoint,
    * and return `result` of the sink, materialized. Finally-guarded: a
    * failing stream must not leak the sink's temp view or its checkpoint
    * (Bench catches per-query errors and keeps going — twice per query
    * with the warm pass).
    */
  private def drain(stream: DataFrame, outputMode: String,
      result: DataFrame => DataFrame = identity): DataFrame = {
    val s = stream.sparkSession
    val id = java.util.UUID.randomUUID.toString.replace("-", "")
    val qn = s"graft_sink_$id"
    val ckpt = s"$tmpDir/graft_ckpt_$id"
    try {
      stream.writeStream.format("memory").queryName(qn)
        .outputMode(outputMode)
        .option("checkpointLocation", ckpt)
        .trigger(Trigger.AvailableNow())
        .start()
        .awaitTermination()
      result(s.table(qn)).mat() // eager: the sink goes away
    } finally {
      try s.catalog.dropTempView(qn) catch { case _: Exception => () }
      deleteDir(s, ckpt)
    }
  }

  /** One-time fixture landing, memoized per (logical fixture, sf dir) for
    * the JVM's lifetime (r14). Each e2e row used to land its fixture
    * files inside its own run — at sf1 that landing (a full orders/events
    * scan + coalesced writes) cost as much as the stream it fed, and
    * Bench pays every row 3× (warm + 2 measured passes). The fixtures are
    * DETERMINISTIC functions of the sf dir, immutable once written, and
    * shared READ-ONLY: every stream run keeps its own checkpoint, so many
    * queries reading one source dir is exactly the multi-consumer
    * file-source contract (mtime pinning done at landing survives reuse
    * unchanged). This mirrors the one-time-corpus-product rule the batch
    * families already follow (cluster labels, BPE merge tables): the e2e
    * row's claim is the STREAM's behavior, not the fixture copy. Dirs
    * live under tmpfs for the JVM's lifetime and are deleted when it
    * exits; a landing that throws leaves no cache entry, so the next
    * attempt re-lands cleanly into a fresh UUID dir.
    */
  private val landedFixtures =
    new java.util.concurrent.ConcurrentHashMap[String, String]()
  sys.addShutdownHook(landedFixtures.values.forEach(d =>
    org.apache.spark.network.util.JavaUtils.deleteQuietly(new java.io.File(d))))
  private val ttlBatches = new java.util.concurrent.ConcurrentHashMap[
    String, (Seq[TtlE2eEvent], Seq[TtlE2eEvent])]()
  private val spikeStats =
    new java.util.concurrent.ConcurrentHashMap[String, (Double, Double)]()
  private def landOnce(key: String, d: String)(
      land: String => Unit): String =
    // cache key carries an md5 of the RAW path alongside the sanitized
    // name: two dirs differing only in punctuation (/data/sf-1 vs
    // /data/sf_1) sanitize identically, and a collision would silently
    // reuse the first dir's landed fixture as the second's stream input
    landedFixtures.computeIfAbsent(
      s"${key}_${d.replaceAll("[^A-Za-z0-9]", "_")}_" +
        java.security.MessageDigest.getInstance("MD5")
          .digest(d.getBytes("UTF-8")).take(6).map("%02x".format(_)).mkString,
      _ => {
        val id = java.util.UUID.randomUUID.toString.replace("-", "")
        val dir = s"$tmpDir/graft_fix_${key}_$id"
        land(dir)
        dir
      })

  /** Deterministic event fixture derived from orders: (user_id, event_id,
    * ts, amount) with full-row duplicates across the two batches (every
    * row with o_orderkey % 6 == 0 appears in both files).
    */
  private def fixture(s: SparkSession, d: String): DataFrame =
    orders(s, d).filter(col("o_orderkey") % 97 === 0)
      .select(
        (col("o_orderkey") % 7).as("user_id"),
        col("o_orderkey").as("event_id"),
        expr("""TIMESTAMP '2024-05-01 00:00:00'
                + make_interval(0, 0, 0, 0, 0, CAST(o_orderkey % 300 AS INT), 0)""")
          .as("ts"),
        ((col("o_orderkey") % 80).cast(DoubleType) / 4).as("amount"))

  private val fixtureSql =
    """SELECT o_orderkey % 7 AS user_id,
              o_orderkey AS event_id,
              TIMESTAMP '2024-05-01 00:00:00'
                + to_minutes(CAST(o_orderkey % 300 AS BIGINT)) AS ts,
              CAST(o_orderkey % 80 AS DOUBLE) / 4 AS amount
       FROM orders WHERE o_orderkey % 97 = 0"""

  private val fixtureSchema = StructType(Seq(
    StructField("user_id", LongType), StructField("event_id", LongType),
    StructField("ts", TimestampType), StructField("amount", DoubleType)))

  /** Land the fixture as two overlapping parquet files, run `transform`
    * over a file-source stream to completion, return the memory sink.
    */
  private def runStream(caller: SparkSession, d: String,
      outputMode: String)(transform: DataFrame => DataFrame): DataFrame = {
    val s = ownSession(caller)
    // every runStream row drives the SAME two-file fixture: land it once
    // per (sf dir, JVM) and share read-only across rows and bench passes.
    // Files land with strictly-increasing pinned mtimes so batch 1 is the
    // %2 file for every consumer (the rows are batch-order independent by
    // the determinism rules above; the pin just makes runs identical).
    val dir = landOnce("ev2", d) { dir =>
      val hp = new org.apache.hadoop.fs.Path(dir)
      val fs = hp.getFileSystem(s.sparkContext.hadoopConfiguration)
      val src = fixture(s, d)
      // batch 1: keys % 2 == 0; batch 2: keys % 3 == 0 — the overlap rows
      // are byte-identical duplicates arriving in a later micro-batch
      var t = 1714521600000L
      val seen = scala.collection.mutable.Set[String]()
      def land(df: DataFrame): Unit = {
        df.coalesce(1).write.mode("append").parquet(dir)
        for (f <- fs.listStatus(hp)
             if f.getPath.getName.startsWith("part-")
             if !seen.contains(f.getPath.toString)) {
          fs.setTimes(f.getPath, t, -1)
          seen += f.getPath.toString
        }
        t += 60000L
      }
      land(src.filter(col("event_id") % 2 === 0))
      land(src.filter(col("event_id") % 3 === 0))
    }
    drain(transform(s.readStream.schema(fixtureSchema)
      .option("maxFilesPerTrigger", 1).parquet(dir)), outputMode)
  }

  val all: Seq[(String, Q, Option[String])] = Seq(

    // W13 — STREAMING exact dedup e2e: the re-download dedup made
    // continuous, driven through a real file-source stream (2 micro-
    // batches, duplicate rows arriving in the later one) and checked by
    // the driver against DISTINCT of the fixture derivation. Full-row
    // dedup keys ⇒ any survivor is byte-identical ⇒ the result is
    // micro-batch-order independent. State: dropDuplicates over the full
    // row — the bounded-key-space arm (StreamDedup's watermarked arm
    // covers unbounded keys in its spec).
    ("w13_stream_dedup_e2e",
      (s, d) => runStream(s, d, "append")(
        _.dropDuplicates("user_id", "event_id", "ts", "amount")),
      Some(s"""WITH src AS ($fixtureSql)
               SELECT DISTINCT user_id, event_id, ts, amount
               FROM src WHERE event_id % 2 = 0 OR event_id % 3 = 0""")),

    // W14 — STREAMING tumbling-window rollup e2e (the A1/A2 face as a
    // stream): per-user hourly totals in Complete mode — final window
    // values independent of micro-batch boundaries. Duplicate rows from
    // the overlapping batches are COUNTED (streams at the raw-ingest tier
    // see re-deliveries; the dedup above is the cure, this op measures
    // what arrived), so the oracle unions both batch selections.
    ("w14_stream_rollup_e2e",
      (s, d) => runStream(s, d, "complete")(
        _.groupBy(window(col("ts"), "1 hour"), col("user_id"))
          .agg(count(lit(1)).as("n_events"), dsum2(col("amount")).as("total"))
          .select(col("window.start").as("ws"), col("window.end").as("we"),
            col("user_id"), col("n_events"), col("total"))),
      Some(s"""WITH src AS ($fixtureSql),
               arrived AS (SELECT * FROM src WHERE event_id % 2 = 0
                           UNION ALL
                           SELECT * FROM src WHERE event_id % 3 = 0)
               SELECT date_trunc('hour', ts) AS ws,
                      date_trunc('hour', ts) + INTERVAL 1 HOUR AS we,
                      user_id, count(*) AS n_events,
                      CAST(SUM(CAST(amount AS DECIMAL(18,2))) AS DOUBLE)
                        AS total
               FROM arrived GROUP BY 1, 2, 3""")),

    // W24 — STREAMING HOPPING-window rollup e2e (the W23 twin as a
    // stream): 30-min windows sliding every 15 min in Complete mode —
    // each event lands in two windows whatever micro-batch delivered it,
    // so final window totals are batch-boundary independent. Duplicates
    // from the overlapping files are counted (raw-ingest tier semantics,
    // as W14).
    ("w24_stream_hopping_e2e",
      (s, d) => runStream(s, d, "complete")(
        _.groupBy(window(col("ts"), "30 minutes", "15 minutes"))
          .agg(count(lit(1)).as("n"), dsum2(col("amount")).as("total"))
          .select(col("window.start").as("ws"), col("window.end").as("we"),
            col("n"), col("total"))),
      Some(s"""WITH src AS ($fixtureSql),
               arrived AS (SELECT * FROM src WHERE event_id % 2 = 0
                           UNION ALL
                           SELECT * FROM src WHERE event_id % 3 = 0),
               g AS (SELECT TIMESTAMP '1970-01-01 00:00:00'
                              + to_seconds(
                                  (epoch_us(ts) // 900000000 - k) * 900)
                              AS ws,
                            amount
                     FROM arrived, generate_series(0, 1) s(k))
               SELECT ws, ws + INTERVAL 30 MINUTE AS we, count(*) AS n,
                      CAST(SUM(CAST(amount AS DECIMAL(18,2))) AS DOUBLE)
                        AS total
               FROM g GROUP BY 1""")),

    // W15 — STREAM-STREAM equi-join e2e (the J9 twin as real streams):
    // precios and volumenes arrive as two file-source streams whose
    // batches are deliberately CROSSED — precios' early hours land in its
    // first file while the matching volumenes land in the second — so
    // every match must pair through the join STATE across micro-batches.
    // The watermark delay (7 days) exceeds the fixture span (48 h), so no
    // row is ever late and the emitted inner-join set equals the batch
    // join exactly — micro-batch-order independent. Dyadic quarter values
    // keep precio·volumenes representation-stable in both engines.
    ("w15_stream_join_e2e",
      (caller, d) => {
        val s = ownSession(caller)
        val root = landOnce("joinpv", d) { root =>
          val fs = new org.apache.hadoop.fs.Path(root)
            .getFileSystem(s.sparkContext.hadoopConfiguration)
          // localCheckpoint: the 4 fixture writes below would otherwise
          // each re-scan orders
          val base = orders(s, d).filter(col("o_orderkey") % 89 === 0)
            .select(
              (col("o_orderkey") % 48).cast(IntegerType).as("h"),
              (col("o_orderkey") % 3 + 1).cast(IntegerType).as("id_mercado"),
              concat(lit("U"), (col("o_orderkey") % 40).cast(StringType))
                .as("uof"),
              ((col("o_orderkey") % 64).cast(DoubleType) / 4).as("volumenes"))
            .withColumn("datetime_utc", expr(
              "TIMESTAMP '2024-05-01 00:00:00' + make_interval(0,0,0,0,h,0,0)"))
            .mat()
          val p = base.select(col("datetime_utc"), col("id_mercado"),
              (((col("h") * 7 + col("id_mercado") * 13) % 100)
                .cast(DoubleType) / 4).as("precio"), col("h"))
            .dropDuplicates("datetime_utc", "id_mercado")
          val v = base
            .select(col("datetime_utc"), col("id_mercado"), col("uof"),
              col("volumenes"), col("h"))
          // pin strictly-increasing mtimes so the CROSSED batch order
          // (precios early hours first, matching volumenes second) is a
          // property of the landed files, not of landing-time clocks
          var t = 1714521600000L
          val seen = scala.collection.mutable.Set[String]()
          def land(df: DataFrame, dir: String): Unit = {
            df.coalesce(1).write.mode("append").parquet(dir)
            val hd = new org.apache.hadoop.fs.Path(dir)
            for (f <- fs.listStatus(hd)
                 if f.getPath.getName.startsWith("part-")
                 if !seen.contains(f.getPath.toString)) {
              fs.setTimes(f.getPath, t, -1)
              seen += f.getPath.toString
            }
            t += 60000L
          }
          land(p.filter(col("h") < 24).drop("h"), s"$root/p")
          land(p.filter(col("h") >= 24).drop("h"), s"$root/p")
          land(v.filter(col("h") >= 24).drop("h"), s"$root/v")
          land(v.filter(col("h") < 24).drop("h"), s"$root/v")
        }
        val pdir = s"$root/p"
        val vdir = s"$root/v"
        val pSchema = StructType(Seq(
          StructField("datetime_utc", TimestampType),
          StructField("id_mercado", IntegerType),
          StructField("precio", DoubleType)))
        val vSchema = StructType(Seq(
          StructField("datetime_utc", TimestampType),
          StructField("id_mercado", IntegerType),
          StructField("uof", StringType),
          StructField("volumenes", DoubleType)))
        val ps = s.readStream.schema(pSchema)
          .option("maxFilesPerTrigger", 1).parquet(pdir)
        val vs = s.readStream.schema(vSchema)
          .option("maxFilesPerTrigger", 1).parquet(vdir)
        drain(graft.streaming.StreamJoin
          .joinPreciosVolumenes(ps, vs, lateness = "7 days"), "append")
      },
      Some("""WITH base AS (
                SELECT CAST(o_orderkey % 48 AS INTEGER) AS h,
                       CAST(o_orderkey % 3 + 1 AS INTEGER) AS id_mercado,
                       concat('U', CAST(o_orderkey % 40 AS VARCHAR)) AS uof,
                       CAST(o_orderkey % 64 AS DOUBLE) / 4 AS volumenes
                FROM orders WHERE o_orderkey % 89 = 0),
              p AS (
                SELECT DISTINCT
                       TIMESTAMP '2024-05-01 00:00:00'
                         + to_hours(CAST(h AS BIGINT)) AS datetime_utc,
                       id_mercado,
                       CAST((h * 7 + id_mercado * 13) % 100 AS DOUBLE) / 4
                         AS precio
                FROM base),
              v AS (
                SELECT TIMESTAMP '2024-05-01 00:00:00'
                         + to_hours(CAST(h AS BIGINT)) AS datetime_utc,
                       id_mercado, uof, volumenes
                FROM base)
              SELECT p.datetime_utc, p.id_mercado, precio, uof, volumenes,
                     precio * volumenes AS importe
              FROM p JOIN v
                ON p.datetime_utc = v.datetime_utc
               AND p.id_mercado = v.id_mercado""")),

    // W28 — STREAM-STREAM LEFT-OUTER join e2e: precios hours 40-47 have
    // NO volumenes counterpart; once the watermark (48 h lateness) passes
    // them they must be EMITTED WITH NULL volumenes/importe — the
    // streaming form of the reference's "keep precios, volumenes file
    // missing" case. Null emission is watermark-driven, so the fixture
    // CONTROLS event-time order across micro-batches: each landed file
    // gets an explicit, strictly-increasing modification time (the file
    // source processes oldest-first), the real data lands in one batch
    // inside the lateness window, and two trailing matched sentinel pairs
    // (hour offsets 1000/2000) advance the watermark so the unmatched
    // rows' null emission happens in the LAST micro-batch — not after the
    // stream stops. Deterministic because eviction depends only on event
    // time vs watermark, and every file's batch slot is pinned by mtime.
    ("w28_stream_outer_join_e2e",
      (caller, d) => {
        val s = ownSession(caller)
        val root = landOnce("oj", d) { root =>
          val fs = new org.apache.hadoop.fs.Path(root)
            .getFileSystem(s.sparkContext.hadoopConfiguration)
          val base = orders(s, d).filter(col("o_orderkey") % 89 === 0)
            .select(
              (col("o_orderkey") % 48).cast(IntegerType).as("h"),
              (col("o_orderkey") % 3 + 1).cast(IntegerType).as("id_mercado"),
              concat(lit("U"), (col("o_orderkey") % 40).cast(StringType))
                .as("uof"),
              ((col("o_orderkey") % 64).cast(DoubleType) / 4).as("volumenes"))
            .withColumn("datetime_utc", expr(
              "TIMESTAMP '2024-05-01 00:00:00' + make_interval(0,0,0,0,h,0,0)"))
            .mat()
          val p = base.select(col("datetime_utc"), col("id_mercado"),
              (((col("h") * 7 + col("id_mercado") * 13) % 100)
                .cast(DoubleType) / 4).as("precio"), col("h"))
            .dropDuplicates("datetime_utc", "id_mercado")
          val v = base.filter(col("h") < 40)
            .select(col("datetime_utc"), col("id_mercado"), col("uof"),
              col("volumenes"), col("h"))
          def sentP(hh: Int) = s.sql(
            s"""SELECT TIMESTAMP '2024-05-01 00:00:00'
                         + make_interval(0,0,0,0,$hh,0,0) AS datetime_utc,
                       CAST(1 AS INT) AS id_mercado,
                       CAST(0.25 AS DOUBLE) AS precio""")
          def sentV(hh: Int) = s.sql(
            s"""SELECT TIMESTAMP '2024-05-01 00:00:00'
                         + make_interval(0,0,0,0,$hh,0,0) AS datetime_utc,
                       CAST(1 AS INT) AS id_mercado, 'S' AS uof,
                       CAST(0.5 AS DOUBLE) AS volumenes""")
          // land one file, stamp a strictly-increasing mtime on it so the
          // file source's oldest-first ordering is pinned per source
          var t = 1714521600000L // 2024-05-01, arbitrary fixed epoch base
          val seen = scala.collection.mutable.Set[String]()
          def land(df: DataFrame, dir: String): Unit = {
            df.coalesce(1).write.mode("append").parquet(dir)
            val hd = new org.apache.hadoop.fs.Path(dir)
            for (f <- fs.listStatus(hd)
                 if f.getPath.getName.startsWith("part-")
                 if !seen.contains(f.getPath.toString)) {
              fs.setTimes(f.getPath, t, -1)
              seen += f.getPath.toString
            }
            t += 60000L
          }
          land(p.drop("h"), s"$root/p")
          land(v.drop("h"), s"$root/v")
          land(sentP(1000), s"$root/p"); land(sentV(1000), s"$root/v")
          land(sentP(2000), s"$root/p"); land(sentV(2000), s"$root/v")
        }
        val pdir = s"$root/p"
        val vdir = s"$root/v"
        val pSchema = StructType(Seq(
          StructField("datetime_utc", TimestampType),
          StructField("id_mercado", IntegerType),
          StructField("precio", DoubleType)))
        val vSchema = StructType(Seq(
          StructField("datetime_utc", TimestampType),
          StructField("id_mercado", IntegerType),
          StructField("uof", StringType),
          StructField("volumenes", DoubleType)))
        val ps = s.readStream.schema(pSchema)
          .option("maxFilesPerTrigger", 1).parquet(pdir)
        val vs = s.readStream.schema(vSchema)
          .option("maxFilesPerTrigger", 1).parquet(vdir)
        drain(graft.streaming.StreamJoin
          .joinPreciosVolumenesOuter(ps, vs, lateness = "48 hours"), "append")
      },
      Some("""WITH base AS (
                SELECT CAST(o_orderkey % 48 AS INTEGER) AS h,
                       CAST(o_orderkey % 3 + 1 AS INTEGER) AS id_mercado,
                       concat('U', CAST(o_orderkey % 40 AS VARCHAR)) AS uof,
                       CAST(o_orderkey % 64 AS DOUBLE) / 4 AS volumenes
                FROM orders WHERE o_orderkey % 89 = 0),
              p AS (
                SELECT DISTINCT
                       TIMESTAMP '2024-05-01 00:00:00'
                         + to_hours(CAST(h AS BIGINT)) AS datetime_utc,
                       id_mercado,
                       CAST((h * 7 + id_mercado * 13) % 100 AS DOUBLE) / 4
                         AS precio
                FROM base
                UNION ALL
                SELECT TIMESTAMP '2024-05-01 00:00:00' + to_hours(1000),
                       CAST(1 AS INTEGER), CAST(0.25 AS DOUBLE)
                UNION ALL
                SELECT TIMESTAMP '2024-05-01 00:00:00' + to_hours(2000),
                       CAST(1 AS INTEGER), CAST(0.25 AS DOUBLE)),
              v AS (
                SELECT TIMESTAMP '2024-05-01 00:00:00'
                         + to_hours(CAST(h AS BIGINT)) AS datetime_utc,
                       id_mercado, uof, volumenes
                FROM base WHERE h < 40
                UNION ALL
                SELECT TIMESTAMP '2024-05-01 00:00:00' + to_hours(1000),
                       CAST(1 AS INTEGER), 'S', CAST(0.5 AS DOUBLE)
                UNION ALL
                SELECT TIMESTAMP '2024-05-01 00:00:00' + to_hours(2000),
                       CAST(1 AS INTEGER), 'S', CAST(0.5 AS DOUBLE))
              SELECT p.datetime_utc, p.id_mercado, precio, uof, volumenes,
                     precio * volumenes AS importe
              FROM p LEFT JOIN v
                ON p.datetime_utc = v.datetime_utc
               AND p.id_mercado = v.id_mercado""")),

    // W30 — STREAMING EMA e2e (the w29 recursive fold as a REAL stateful
    // stream): the mapGroupsWithState operator (graft.streaming.Ema, ONE
    // double of state per key) driven through a file-source stream whose
    // three files split the fixture by event time with pinned mtimes —
    // the operator's in-order-across-batches contract made true by
    // construction — and hash-gated against the SAME DuckDB recursive-CTE
    // oracle as the batch query. Update-mode sink keeps every per-batch
    // re-emission; the final state per key is the row with the maximal
    // (strictly increasing) n_events. Bit-determinism: identical IEEE
    // fold sequence per key in stream, batch and oracle.
    ("w30_stream_ema_e2e",
      (caller, d) => {
        val s = ownSession(caller)
        import s.implicits._
        val dir = landOnce("ema", d) { dir =>
          val hp = new org.apache.hadoop.fs.Path(dir)
          val fs = hp.getFileSystem(s.sparkContext.hadoopConfiguration)
          val src = events(s, d).filter(col("event_id") % 5 === 0)
            .select(col("user_id"), col("event_id"), col("ts"), col("value"))
            .mat()
          var t = 1714521600000L
          val seen = scala.collection.mutable.Set[String]()
          def land(df: DataFrame): Unit = {
            df.coalesce(1).write.mode("append").parquet(dir)
            for (f <- fs.listStatus(hp)
                 if f.getPath.getName.startsWith("part-")
                 if !seen.contains(f.getPath.toString)) {
              fs.setTimes(f.getPath, t, -1)
              seen += f.getPath.toString
            }
            t += 60000L
          }
          land(src.filter(col("ts") < lit("2024-01-11").cast(TimestampType)))
          land(src.filter(col("ts") >= lit("2024-01-11").cast(TimestampType)
            && col("ts") < lit("2024-01-21").cast(TimestampType)))
          land(src.filter(col("ts") >= lit("2024-01-21").cast(TimestampType)))
        }
        val sch = StructType(Seq(
          StructField("user_id", LongType), StructField("event_id", LongType),
          StructField("ts", TimestampType), StructField("value", DoubleType)))
        val st = s.readStream.schema(sch)
          .option("maxFilesPerTrigger", 1).parquet(dir)
          .as[graft.streaming.Ema.Point]
        drain(graft.streaming.Ema.emaStream(st).toDF(), "update",
          _.groupBy(col("user_id"))
            .agg(max(struct(col("n_events"), col("ema_last"))).as("m"))
            .select(col("user_id"), col("m.n_events").as("n_events"),
              round(col("m.ema_last"), 6).as("ema_last")))
      },
      Some("""WITH RECURSIVE s AS (
                SELECT user_id, value,
                       row_number() OVER (PARTITION BY user_id
                                          ORDER BY ts, event_id) AS rn
                FROM events WHERE event_id % 5 = 0),
              n AS (SELECT user_id, max(rn) AS n_events FROM s GROUP BY 1),
              r AS (
                SELECT user_id, rn, CAST(value AS DOUBLE) AS ema
                FROM s WHERE rn = 1
                UNION ALL
                SELECT s.user_id, s.rn,
                       CAST(0.25 AS DOUBLE) * s.value
                         + CAST(0.75 AS DOUBLE) * r.ema
                FROM s JOIN r ON s.user_id = r.user_id
                             AND s.rn = r.rn + 1)
              SELECT n.user_id, CAST(n.n_events AS BIGINT) AS n_events,
                     round(r.ema, 6) AS ema_last
              FROM r JOIN n ON r.user_id = n.user_id
                           AND r.rn = n.n_events""")),

    // W18 — STREAMING ordered-step FUNNEL e2e (the W16 twin as a real
    // stream). Ordered-step semantics (step k counts only strictly after
    // step k−1) are NOT commutative under out-of-order arrival, so the
    // stream keeps the COMMUTATIVE part as its state — a per-user
    // collect_list of (ts, step) in Complete mode, order-independent by
    // construction — and the exact staged logic runs as one batch fold
    // over the SORTED array after the stream completes: first signup,
    // then first click strictly after it, then first purchase strictly
    // after that. Result is micro-batch-order independent (duplicates
    // from the overlapping batches cannot change a first-eligible pick).
    // At scale the state is each user's events inside the conversion
    // window — the production refinement is watermark eviction of
    // converted/expired users (streaming/Sessionize shows the timeout
    // machinery); the fixture keeps Complete mode so the driver gate
    // checks the stream's own output.
    ("w18_stream_funnel_e2e",
      (s, d) => {
        val sink = runStream(s, d, "complete")(
          _.withColumn("tp", expr(
            """CASE CAST(event_id % 3 AS INT) WHEN 0 THEN 'signup'
               WHEN 1 THEN 'click' ELSE 'purchase' END"""))
            .groupBy(col("user_id"))
            .agg(collect_list(struct(col("ts"), col("tp"))).as("evs")))
        sink.withColumn("st", expr(
            """aggregate(array_sort(evs),
                 named_struct('t1', CAST(NULL AS TIMESTAMP),
                              't2', CAST(NULL AS TIMESTAMP),
                              't3', CAST(NULL AS TIMESTAMP)),
                 (a, e) -> CASE
                   WHEN e.tp = 'signup' AND a.t1 IS NULL
                     THEN named_struct('t1', e.ts, 't2', a.t2, 't3', a.t3)
                   WHEN e.tp = 'click' AND a.t1 IS NOT NULL
                        AND e.ts > a.t1 AND a.t2 IS NULL
                     THEN named_struct('t1', a.t1, 't2', e.ts, 't3', a.t3)
                   WHEN e.tp = 'purchase' AND a.t2 IS NOT NULL
                        AND e.ts > a.t2 AND a.t3 IS NULL
                     THEN named_struct('t1', a.t1, 't2', a.t2, 't3', e.ts)
                   ELSE a END)"""))
          .select(col("user_id"), col("st.t1").as("t1"),
            col("st.t2").as("t2"), col("st.t3").as("t3"))
      },
      Some(s"""WITH src AS ($fixtureSql),
               arrived AS (SELECT * FROM src WHERE event_id % 2 = 0
                           UNION ALL
                           SELECT * FROM src WHERE event_id % 3 = 0),
               e AS (SELECT user_id, ts AS t,
                            CASE CAST(event_id % 3 AS INT)
                              WHEN 0 THEN 'signup'
                              WHEN 1 THEN 'click'
                              ELSE 'purchase' END AS tp
                     FROM arrived),
               s1 AS (SELECT user_id, min(t) AS t1 FROM e
                      WHERE tp = 'signup' GROUP BY 1),
               s2 AS (SELECT e.user_id, min(t) AS t2
                      FROM e JOIN s1 USING (user_id)
                      WHERE tp = 'click' AND t > t1 GROUP BY 1),
               s3 AS (SELECT e.user_id, min(t) AS t3
                      FROM e JOIN s2 USING (user_id)
                      WHERE tp = 'purchase' AND t > t2 GROUP BY 1)
               SELECT u.user_id, s1.t1, s2.t2, s3.t3
               FROM (SELECT DISTINCT user_id FROM e) u
               LEFT JOIN s1 USING (user_id)
               LEFT JOIN s2 USING (user_id)
               LEFT JOIN s3 USING (user_id)""")),

    // W27 — STREAMING robust-threshold SPIKE flags e2e (the A15 anomaly
    // gate made continuous — the production split real monitoring uses):
    // the median/MAD thresholds are TRAINED BATCH-SIDE by the exact
    // log-bucket quantile kernel (a stream cannot compute an exact
    // global quantile online; production retrains per window/day), then
    // embedded as literals into the stream, where flagging is a pure
    // stateless narrow map and per-user tallies run in Complete mode —
    // micro-batch-order independent because the map is stateless and the
    // final counts see every arrival.
    ("w27_stream_spike_e2e",
      (s, d) => {
        // the batch-side spike thresholds are a deterministic function of
        // the sf dir — memoized like the landed fixtures (the row's claim
        // is the STREAM applying them, not their recomputation)
        val (med, mad) = spikeStats.computeIfAbsent(d, _ => {
          import graft.operators.Quantiles.{percentiles, round6}
          val src = fixture(s, d)
          val arrived = src.filter(col("event_id") % 2 === 0)
            .unionAll(src.filter(col("event_id") % 3 === 0))
            .select(col("amount").as("a"))
          val m = round6(percentiles(arrived, "a", Seq(0.5)).head)
          (m, round6(percentiles(
            arrived.select(abs(col("a") - m).as("dev")), "dev",
            Seq(0.5)).head))
        })
        runStream(s, d, "complete")(
          _.groupBy(col("user_id"))
            .agg(count(lit(1)).as("n"),
              sum(when(abs(col("amount") - med) > lit(3.0) * mad, 1)
                .otherwise(0)).cast(LongType).as("n_spikes")))
      },
      Some(s"""WITH src AS ($fixtureSql),
               arrived AS (SELECT * FROM src WHERE event_id % 2 = 0
                           UNION ALL
                           SELECT * FROM src WHERE event_id % 3 = 0),
               m AS (SELECT round(quantile_cont(amount, 0.5), 6) AS med
                     FROM arrived),
               md AS (SELECT round(quantile_cont(abs(amount - med), 0.5), 6)
                               AS mad
                      FROM arrived, m)
               SELECT user_id, count(*) AS n,
                      CAST(SUM(CASE WHEN abs(amount - m.med) > 3 * md.mad
                               THEN 1 ELSE 0 END) AS BIGINT) AS n_spikes
               FROM arrived, m, md GROUP BY 1""")),

    // W34 — transformWithState TTL dedup e2e under a REAL RocksDB state
    // store (the last documented environment gap of r12; the batch twin
    // `w33_ttl_dedup` gates the state-machine semantics, THIS row proves
    // the actual `transformWithState` plan commits, expires and re-admits
    // through the RocksDB provider). Two faces make wall-clock TTL
    // hash-deterministic:
    //  - long_ttl (1 h): nothing can expire inside the run, so the output
    //    is exactly "first arrival per key" — batch-2 duplicates are
    //    suppressed by live state;
    //  - short_ttl (100 ms, with a 1.2 s pause between the two
    //    MemoryStream batches): every key's state is expired by batch 2,
    //    so batch 2 re-admits its own first-per-key.
    // MemoryStream (not a file source) pins the micro-batch boundaries:
    // addData is atomic, so each feed lands in ONE micro-batch and "first
    // arrival" is the ord-least row of a known row set, never a file-order
    // artifact. Drive/settle protocol: the query free-runs and the harness
    // POLLS the sink for the exact expected row count per phase (known a
    // priori from the fed keys), with a deadline and a post-condition
    // grace so a wrong extra emission still fails the gate. The row's own
    // session picks RocksDB, one shuffle partition (bounds the per-batch
    // RocksDB commit count) and no no-data micro-batches: ProcessingTime-
    // mode TWS otherwise asks for a maintenance batch after EVERY batch
    // (TTL and timers must be able to fire without input; under
    // `Trigger.AvailableNow` observed as 1100+ empty batches and
    // counting), so `processAllAvailable` would never settle and `stop()`
    // would land mid-commit. TTL expiry needs no such batch — an expired
    // value reads as absent in the next data batch. So once the sink
    // holds its rows, `processAllAvailable` returns after the last batch
    // committed, and `stop()` interrupts an idle query, never a RocksDB
    // commit.
    ("w34_stream_ttl_dedup_e2e",
      (caller, d) => {
        val s = ownSession(caller,
          "spark.sql.streaming.stateStore.providerClass" ->
            ("org.apache.spark.sql.execution.streaming.state" +
              ".RocksDBStateStoreProvider"),
          "spark.sql.streaming.noDataMicroBatches.enabled" -> "false")
        val enc = org.apache.spark.sql.Encoders.product[TtlE2eEvent]
        // fixture-derived batches, collected driver-side ONCE per sf dir
        // (the MemoryStream feed is driver data by construction; bounded
        // by the % 97 fixture) — the same landing memoization the file
        // fixtures get, as two deterministic in-memory row sets
        val (b1, b2) = ttlBatches.computeIfAbsent(d, _ => {
          val src = fixture(s, d).select(col("user_id"), col("event_id"))
          (src.filter(col("event_id") % 2 === 0).as(enc).collect().toSeq,
            src.filter(col("event_id") % 3 === 0).as(enc).collect().toSeq)
        })
        val ord = Ordering.by((x: TtlE2eEvent) => x.event_id)
        def face(policy: String, ttl: java.time.Duration,
            sleepMs: Long): DataFrame = {
          implicit val e: org.apache.spark.sql.Encoder[TtlE2eEvent] = enc
          implicit val sqlCtx: org.apache.spark.sql.SQLContext = s.sqlContext
          val id = java.util.UUID.randomUUID.toString.replace("-", "")
          val ckpt = s"$tmpDir/graft_w34_ckpt_$id"
          val input = org.apache.spark.sql.execution.streaming.runtime
            .MemoryStream[TtlE2eEvent]
          val deduped = graft.streaming.StreamDedup.dedupTtl(input.toDS(),
            (ev: TtlE2eEvent) => ev.user_id.toString, ttl, ord)
          val qn = s"graft_w34_${policy}_$id"
          val q = deduped.writeStream.format("memory").queryName(qn)
            .outputMode("append")
            .option("checkpointLocation", ckpt)
            .start()
          def awaitCount(want: Long): Unit = {
            val deadline = System.nanoTime + 120L * 1000 * 1000 * 1000
            while (s.table(qn).count() < want) {
              q.exception.foreach(throw _)
              if (System.nanoTime > deadline)
                throw new IllegalStateException(
                  s"$qn stalled at ${s.table(qn).count()} < $want rows")
              Thread.sleep(50)
            }
          }
          val u1 = b1.map(_.user_id).toSet
          val u2 = b2.map(_.user_id).toSet
          try {
            input.addData(b1: _*)
            awaitCount(u1.size.toLong)
            if (sleepMs > 0) Thread.sleep(sleepMs)
            input.addData(b2: _*)
            val want2 = u1.size.toLong +
              (if (policy == "short_ttl") u2.size.toLong
               else (u2 -- u1).size.toLong)
            awaitCount(want2)
            Thread.sleep(300) // grace: a WRONG extra emission must land...
            val settled = s.table(qn).count() // ...and is asserted on,
            if (settled != want2)             // not just hoped to surface
              throw new IllegalStateException(
                s"$qn over-emitted: $settled rows after grace, want $want2")
            q.processAllAvailable() // the last batch has committed
            q.stop()
            q.awaitTermination()
            s.table(qn).mat()
              .select(lit(policy).as("policy"), col("user_id"),
                col("event_id"))
          } finally {
            try if (q.isActive) q.stop() catch { case _: Exception => () }
            try s.catalog.dropTempView(qn) catch { case _: Exception => () }
            deleteDir(s, ckpt)
          }
        }
        face("long_ttl", java.time.Duration.ofHours(1), 0)
          .unionByName(
            face("short_ttl", java.time.Duration.ofMillis(100), 1200))
      },
      Some(s"""WITH src AS ($fixtureSql),
               b1 AS (SELECT user_id, min(event_id) AS event_id
                      FROM src WHERE event_id % 2 = 0 GROUP BY 1),
               b2 AS (SELECT user_id, min(event_id) AS event_id
                      FROM src WHERE event_id % 3 = 0 GROUP BY 1)
               SELECT 'long_ttl' AS policy, user_id, event_id FROM b1
               UNION ALL
               SELECT 'long_ttl', user_id, event_id FROM b2
               WHERE user_id NOT IN (SELECT user_id FROM b1)
               UNION ALL
               SELECT 'short_ttl', user_id, event_id FROM b1
               UNION ALL
               SELECT 'short_ttl', user_id, event_id FROM b2"""))
  )
}

/** w34's MemoryStream element — top-level so the product encoder resolves
  * without an outer-scope capture.
  */
case class TtlE2eEvent(user_id: Long, event_id: Long)
