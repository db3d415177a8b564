package graft.lake

import org.apache.spark.sql.{Column, DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Partitioned parquet lake with idempotent keyed upsert — SURVEY.md §1.4,
  * S5-S7 + A4 (utilidades/processed_file_utils.py:28-135, 252-369).
  *
  * The reference's read-merge-dedup-rewrite per partition file becomes:
  * derive partition columns → union incoming with the *overlapping*
  * partitions only → keep-last via row_number over the dedup key ordered by
  * an explicit precedence column → dynamic partition overwrite. pandas'
  * implicit "last concatenated row wins" does not exist in Spark, so
  * precedence is explicit data (SURVEY §7.4.2): callers pass a batch id /
  * load timestamp; higher wins.
  *
  * Scale: only partitions present in the incoming batch are read back and
  * rewritten (partition pruning on the union's existing side), so a daily
  * merge touches O(days-in-batch) partitions no matter how big the lake is.
  */
object Lake {

  val PartitionCols: Seq[String] = Seq("mercado", "id_mercado", "year", "month")

  /** Partition columns below the `mercado=<m>` directory: one upsert
    * writes exactly one mercado, so it writes into that directory and
    * partitions by the rest. A literal `mercado` column would be foldable:
    * the optimizer drops it from the caller's sort, and the planned write
    * then re-sorts by the partition columns without `datetime_utc`,
    * scrambling the O1 per-file datetime order.
    */
  private val WriteCols: Seq[String] = PartitionCols.filterNot(_ == "mercado")

  /** O1 sort key for partitioned writes: partition columns FIRST, then
    * datetime. Leading with the partition columns satisfies the writer's
    * required ordering, so every written file is datetime-ordered
    * (o1_sorted_write_e2e audits the per-file order) and a write sorts
    * once: the append sorts here, and the upsert's keep-last window
    * already sorts in this order, so Spark drops this sort as redundant.
    */
  private val O1Keys: Seq[String] = WriteCols :+ "datetime_utc"

  /** Sort and lay out one mercado's rows for a write into its directory. */
  private def o1Write(df: DataFrame) =
    layout(df.drop("mercado").sortWithinPartitions(O1Keys.map(col): _*)
      .write.partitionBy(WriteCols: _*))

  /** Derive year/month partition columns from datetime_utc and tag mercado.
    * ref: processed_file_utils.py:76-89
    */
  def withPartitionCols(df: DataFrame, mercado: String): DataFrame = df
    .withColumn("mercado", lit(mercado))
    .withColumn("year", year(col("datetime_utc")))
    .withColumn("month", month(col("datetime_utc")))

  /** Keep-last keyed dedup: one survivor per key, highest precedence wins.
    * ref: processed_file_utils.py:28-74 (A4 key sets per dataset)
    */
  def keepLast(df: DataFrame, keys: Seq[String], precedence: Column): DataFrame = {
    val w = Window.partitionBy(keys.map(col): _*).orderBy(precedence.desc)
    df.withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1).drop("__rn")
  }

  /** Physical parquet layout approximating the reference's writer settings
    * (processed_file_utils.py:25,349-357): zstd + 64 KiB pages are exact;
    * the reference's row_group_size=122880 ROWS has no Spark equivalent —
    * parquet.block.size is BYTES — so 16 MiB targets ~122880 rows at
    * ~128 B/encoded row for these narrow fact schemas. Wider rows get
    * proportionally fewer rows per group, which is the right scaling for
    * scan memory anyway; the 16 MiB floor keeps groups large enough that
    * footer metadata stays negligible.
    *
    * DELIBERATE DEVIATION: the reference writes data-page V2 (pyarrow
    * `data_page_version="2.0"`); we write V1. Spark's vectorized reader
    * SILENTLY TEARS ROWS on V2 pages when parquet column-index filtering
    * prunes to mid-page row ranges: filter columns decode from the right
    * offset while non-filter columns mis-skip, pairing row N's keys with
    * row N±k's payload. Reproduced deterministically on the o6 z-order
    * round trip (sf1 orders, page.size=2048 + page.row.count.limit=333,
    * box filter on x/y → o_orderkey off by a few positions) and isolated
    * by experiment matrix: torn with zstd, snappy AND uncompressed V2;
    * clean with the row-by-row reader, with columnindex filtering off,
    * and with V1 pages under the identical geometry (LakeLayoutSpec
    * replays the matrix's fix arm). V1 + dictionary/RLE is the Spark
    * production default and loses nothing material under zstd, so the
    * lake must never emit V2 until the upstream skip path is trustworthy
    * — this is a 100 TB silent-corruption class, not a perf trade.
    */
  private def layout[T](w: org.apache.spark.sql.DataFrameWriter[T]) = w
    .option("compression", "zstd")
    .option("parquet.block.size", 16L * 1024 * 1024)
    .option("parquet.writer.version", "PARQUET_1_0")
    .option("parquet.page.size", 64 * 1024)

  /** Storage-agnostic existence check (HDFS/S3/local — wherever a 100 TB
    * lake actually lives; `java.io.File` only works on the local FS).
    */
  private def pathExists(spark: SparkSession, path: String): Boolean = {
    val p = new org.apache.hadoop.fs.Path(path)
    p.getFileSystem(spark.sparkContext.hadoopConfiguration).exists(p)
  }

  /** Idempotent upsert into the partitioned lake. `dedupKeys` empty ⇒
    * append-only (the `continuo`/MIC rule, processed_file_utils.py:65-67).
    * Only the `mercado=<mercado>` directory is written; the overlap read
    * and `read` see the whole lake at `path`.
    *
    * A key is deduplicated within its leaf partition, as the reference
    * deduplicates per partition file: the keep-last keys lead with
    * `(id_mercado, year, month, datetime_utc)`, which changes no key that
    * already holds `id_mercado` and `datetime_utc` (year and month are
    * functions of it). The merge runs as one exchange keyed by the leaf
    * partition, numbered with the session's `spark.sql.shuffle.partitions`
    * so that AQE cannot fold the write into one task, and one sort: the
    * keep-last window's sort is already the O1 order, so the writer sorts
    * no more. Each leaf partition lives in exactly one task, so a write
    * leaves one file per leaf partition.
    */
  def upsert(spark: SparkSession, incoming: DataFrame, path: String,
      mercado: String, dedupKeys: Seq[String], precedenceCol: String): Unit = {
    val tagged = withPartitionCols(incoming, mercado)
    val target = s"$path/mercado=${ExternalCatalogUtils.escapePathName(mercado)}"
    if (dedupKeys.isEmpty) { // append-only datasets (MIC): duplicates allowed
      o1Write(tagged).mode(SaveMode.Append).parquet(target)
      return
    }
    // incoming batches can carry intra-batch duplicates (re-downloads) —
    // keep-last applies to the batch itself as well as the merge
    val rows =
      if (!pathExists(spark, path)) tagged
      else {
        val existing = spark.read.parquet(path)
        // prune the existing side to only the partitions the batch touches
        val touched = tagged.select(PartitionCols.map(col): _*).distinct()
        existing.join(broadcast(touched), PartitionCols, "left_semi")
          .select(tagged.columns.map(col): _*)
          .unionByName(tagged)
      }
    val merged = keepLast(
      graft.Tables.pinnedRepartition(rows, WriteCols.map(col): _*),
      O1Keys ++ dedupKeys.filterNot(O1Keys.contains), col(precedenceCol))
    // partitionOverwriteMode is a per-write option, not a session-global
    // conf mutation: only the partitions present in `merged` are replaced
    o1Write(merged).mode(SaveMode.Overwrite)
      .option("partitionOverwriteMode", "dynamic")
      .parquet(target)
  }

  /** Partition-pruned read (S11): mercado/id/date-range predicates land on
    * partition columns so Catalyst prunes directories before any IO.
    * ref: db_utils.py:224-301
    */
  def read(spark: SparkSession, path: String, mercado: Option[String] = None,
      ids: Seq[Int] = Nil, from: Option[String] = None,
      to: Option[String] = None): DataFrame = {
    var df = spark.read.parquet(path)
    mercado.foreach(m => df = df.filter(col("mercado") === m))
    if (ids.nonEmpty) df = df.filter(col("id_mercado").isin(ids: _*))
    from.foreach { f =>
      df = df.filter(col("datetime_utc") >= f &&
        // partition-aligned predicate so year/month dirs prune too
        (col("year") > year(lit(f).cast("date")) ||
          (col("year") === year(lit(f).cast("date")) &&
            col("month") >= month(lit(f).cast("date")))))
    }
    to.foreach { t =>
      df = df.filter(col("datetime_utc") <= t &&
        (col("year") < year(lit(t).cast("date")) ||
          (col("year") === year(lit(t).cast("date")) &&
            col("month") <= month(lit(t).cast("date")))))
    }
    df
  }

  /** Bucketed fact table: pre-shuffles on the join key at write time so
    * fact-fact joins on that key are co-located — no Exchange at query
    * time. The 100 TB tool for repeated precios×volumenes-style joins:
    * pay the shuffle once on ingest, never per query. (Bucketing requires
    * the table catalog, hence saveAsTable rather than a path write.)
    */
  def writeBucketed(df: DataFrame, table: String, bucketCols: Seq[String],
      nBuckets: Int, location: Option[String] = None): Unit = {
    val w = df.write.mode(SaveMode.Overwrite)
      .bucketBy(nBuckets, bucketCols.head, bucketCols.tail: _*)
      .sortBy(bucketCols.head, bucketCols.tail: _*)
      .option("compression", "zstd")
    // explicit location ⇒ external bucketed table (callers that bucket
    // scratch copies point it at a temp dir instead of the warehouse)
    location.fold(w.saveAsTable(table))(p =>
      w.option("path", p).saveAsTable(table))
  }

  /** Small-file COMPACTION (maintenance op): every upsert into an
    * append-only dataset adds a file per touched partition, and at 100 TB
    * the accumulated small files dominate scan cost (footer reads, one
    * task per file). Rewrites each leaf partition holding more than
    * `maxFiles` parquet files into ceil(bytes / targetBytes) files,
    * preserving the datetime_utc sort runs and the physical layout.
    * Row content is untouched, so it can run any time; only oversized
    * partitions are rewritten. The directory listing and the swap loop are
    * driver-side over PARTITIONS (bounded by markets × months — metadata,
    * never data); each rewrite is a distributed job. The swap is
    * write-aside → move-in → delete-originals, in that order, so a crash
    * mid-swap can leave DUPLICATE rows visible (old + rewritten files
    * coexist until the deletes finish) but never loses the partition;
    * renames are checked and abort the swap before any original is
    * deleted. A concurrent reader can still observe the duplicate window —
    * a production lake would layer a table format's commit protocol on top.
    * Returns the number of partitions compacted.
    */
  def compact(spark: SparkSession, path: String, maxFiles: Int = 8,
      targetBytes: Long = 128L * 1024 * 1024): Int = {
    import org.apache.hadoop.fs.Path
    val root = new Path(path)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(root)) return 0
    def leaves(p: Path): Seq[Path] = {
      // skip hidden/metadata entries (".compact_*" work dirs from a crashed
      // run, "_SUCCESS", Spark staging) — they are not data partitions
      val (dirs, files) = fs.listStatus(p).toSeq
        .filter { s =>
          val n = s.getPath.getName
          !n.startsWith(".") && !n.startsWith("_")
        }
        .partition(_.isDirectory)
      if (files.exists(_.getPath.getName.endsWith(".parquet"))) Seq(p)
      else dirs.flatMap(d => leaves(d.getPath))
    }
    var compacted = 0
    leaves(root).foreach { dir =>
      val parts = fs.listStatus(dir).toSeq
        .filter(s => s.isFile && s.getPath.getName.endsWith(".parquet"))
      if (parts.length > maxFiles) {
        val bytes = parts.map(_.getLen).sum
        val n = math.max(1L, (bytes + targetBytes - 1) / targetBytes).toInt
        // DETERMINISTIC file sizing (r17, guide §6): coalesce(n) alone
        // leaves output sizes to partition balance — an unlucky merge
        // puts 2-3 source files' rows in one output file. Measure the
        // partition's own row width from its parquet footers and cap
        // every file at the row count equivalent of targetBytes, so the
        // writer itself splits any oversized partition at the byte
        // target. Footers are read DRIVER-SIDE (a few KB tail per file,
        // against the listing `parts` already holds) — a Spark count()
        // job here, though metadata-only, paid scan planning + job
        // scheduling per compacted partition (measured +0.4 s on
        // s7_compact_e2e at sf0.1). Double math: rows·targetBytes
        // overflows a long at petabyte partitions.
        val conf = spark.sparkContext.hadoopConfiguration
        val rows = parts.map { p =>
          val r = org.apache.parquet.hadoop.ParquetFileReader.open(
            org.apache.parquet.hadoop.util.HadoopInputFile
              .fromStatus(p, conf))
          try r.getRecordCount finally r.close()
        }.sum
        val perFile = math.max(1L,
          math.ceil(rows.toDouble * targetBytes / bytes).toLong)
        val tmp = new Path(dir.getParent, s".compact_${dir.getName}")
        fs.delete(tmp, true)
        layout(spark.read.parquet(dir.toString)
          .coalesce(n).sortWithinPartitions("datetime_utc")
          .write.option("maxRecordsPerFile", perFile)
          .mode(SaveMode.Overwrite)).parquet(tmp.toString)
        // move-in BEFORE deleting originals: rewritten part files carry
        // fresh UUID names so they never collide with `parts`; any failed
        // rename aborts here, leaving the partition's original files intact
        fs.listStatus(tmp).toSeq
          .filter(s => s.isFile && s.getPath.getName.endsWith(".parquet"))
          .foreach { s =>
            val dest = new Path(dir, s.getPath.getName)
            if (!fs.rename(s.getPath, dest))
              throw new java.io.IOException(
                s"compact: rename ${s.getPath} -> $dest failed; " +
                  s"originals in $dir left untouched")
          }
        parts.foreach(s => fs.delete(s.getPath, false))
        fs.delete(tmp, true)
        compacted += 1
      }
    }
    compacted
  }

  /** Z-ORDER layout write (maintenance op next to `compact`): clusters rows
    * along a Morton space-filling curve over 1-3 dimensions so parquet
    * row-group min/max stats stay tight on EVERY z-dimension at once — a
    * box predicate on any subset of them skips most row groups, where a
    * linear sort only serves its leading column. The 100 TB story: at a
    * thousand files per partition, a one-dimension sort makes secondary-key
    * queries full scans; z-order bounds them at ~N^(1-1/k) of the files.
    *
    * Mechanics (all narrow after one 1-row aggregate): per-dimension
    * min/max arrive as a broadcast 1-row frame; each dimension is linearly
    * quantized to `nb`-bit ranks (rank-free on purpose — no global sort or
    * sampled range partitioner on the quantization path; uniform-ish dims
    * are the z-order use case, and a skewed dim only degrades pruning,
    * never correctness); ranks interleave bit-by-bit into the z-value
    * (bit j of dim i lands at j*k+i — unrolled shift/mask expressions,
    * whole-stage codegen); rows range-partition and sort by z. Content is
    * layout-independent: readers see the same rows whatever the curve did
    * (o6_zorder_scan_e2e proves the round trip under the driver hash gate;
    * ZorderSpec proves the pruning win against a linear layout).
    */
  def zorder(spark: SparkSession, df: DataFrame, path: String,
      zCols: Seq[String], nFiles: Int): Unit = {
    require(zCols.nonEmpty && zCols.size <= 3, "zorder: 1-3 dimensions")
    val k = zCols.size
    val nb = math.min(16, 62 / k) // k*nb bits < 63: z stays a positive long
    val maxQ = (1L << nb) - 1
    val aggExprs = zCols.flatMap(c => Seq(
      min(col(c).cast("double")).as(s"__mn_$c"),
      max(col(c).cast("double")).as(s"__mx_$c")))
    val mm = df.agg(aggExprs.head, aggExprs.tail: _*)
    val ranks = zCols.map { c =>
      val span = col(s"__mx_$c") - col(s"__mn_$c")
      least(lit(maxQ), greatest(lit(0L),
        floor((col(c).cast("double") - col(s"__mn_$c"))
          / when(span === 0, 1.0).otherwise(span) * maxQ).cast("long")))
    }
    val z = (0 until nb).flatMap { j =>
      ranks.zipWithIndex.map { case (r, i) =>
        shiftleft(shiftright(r, j).bitwiseAND(lit(1L)), j * k + i)
      }
    }.reduce(_ bitwiseOR _)
    val helperCols = zCols.flatMap(c => Seq(s"__mn_$c", s"__mx_$c"))
    layout(df.crossJoin(broadcast(mm))
      .withColumn("__z", z)
      .drop(helperCols: _*)
      .repartitionByRange(nFiles, col("__z"))
      .sortWithinPartitions("__z")
      .drop("__z")
      .write.mode(SaveMode.Overwrite)).parquet(path)
  }

  /** S9/O3 — latest loaded partition (descending year/month walk becomes a
    * partition-only aggregate; no data files are read).
    * ref: raw_file_utils.py:316-419
    */
  def latestPartition(spark: SparkSession, path: String): (Int, Int) = {
    val r = spark.read.parquet(path)
      .select(col("year"), col("month")).distinct()
      .orderBy(col("year").desc, col("month").desc).limit(1).collect()(0)
    (r.getInt(0), r.getInt(1))
  }
}
