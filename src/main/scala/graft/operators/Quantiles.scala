package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DecimalType, DoubleType}

import java.lang.Double.isFinite
import java.math.{BigDecimal => JBD, RoundingMode}
import scala.collection.mutable

/** Exact interpolated quantiles WITHOUT the linear-memory value buffer of
  * `percentile()` — the one aggregate in the surface whose executor memory
  * grows with the data (Spark's Percentile holds a value→count map per
  * partition and merges them; at 10^12 rows of a high-cardinality double
  * that map IS the dataset). Two scale-safe exact strategies instead:
  *
  *  - Global selection ([[percentiles]], [[exact]], [[medianAndMad]];
  *    unbounded domain): one log-bucket kernel.
  *     1. Pass 1 needs no prior stats scan: rows bucket by a SCALE-FREE
  *        log bucket id (64 buckets per octave of |v|, sign-aware), so at
  *        most ~131k buckets exist over the entire double range, each
  *        collected as (cnt, min, max). Walking the cumulative counts
  *        locates the bucket holding each target rank.
  *     2. A rank whose span holds more than `leafLimit` rows narrows: each
  *        narrowing pass filters the span's plain value range (parquet
  *        min/max stats prune row groups), splits it into 4096 equal-
  *        width bins, collects (cnt, min, max) per occupied bin and keeps
  *        the bin holding the rank — until the span fits `leafLimit` or
  *        holds one value, within the pass bound derived at
  *        [[MaxNarrowPasses]].
  *     3. One tagged region scan value-counts the rows inside the rank
  *        spans (the leaves) and only counts — or, for [[Winsorize]],
  *        decimal-sums — the rows between them; the order statistics
  *        read off the leaf value counts.
  *    Executor memory is O(buckets) per task and driver traffic
  *    O(buckets + leafLimit) rows per pass, independent of n. On data
  *    whose rank buckets fit `leafLimit` (any fixed-precision domain at
  *    bench scale) that is two jobs. Each pass picks its aggregation by
  *    input width: ≤64 partitions (the single-node / per-shard case) fold
  *    per partition and merge on the driver, without the exchange's fixed
  *    scheduling cost; wider inputs groupBy through an exchange, so the
  *    driver's fan-in stays bounded by the bucket count, not task count.
  *    Non-finite values and empty input raise IllegalArgumentException.
  *
  *  - [[grouped]] (per group, bounded-cardinality domain — token counts,
  *    fixed-precision decimals): shrink to exact value counts first
  *    (groupBy(keys, v)), then rank within each group with a cumulative
  *    window over the DISTINCT values and select/interpolate the target
  *    ranks in one aggregation. Fully distributed — nothing is collected;
  *    memory is bounded by the sort-based window over distinct values.
  *
  * Both reproduce `percentile()` / DuckDB `quantile_cont` BIT-EXACTLY:
  * exact selection returns the same order statistics, and the
  * interpolation below is the same expression Spark's Percentile
  * evaluates — `(higher − pos) · v_lo + (pos − lower) · v_hi` with the
  * `higher == lower` short-circuit (the naive `v_lo + frac · (v_hi −
  * v_lo)` differs in the last ulp, which a round-to-6 gate can expose).
  * Nulls are excluded, as percentile() does.
  */
object Quantiles {

  /** Exact interpolated per-group quantiles via value counts. Returns one
    * row per group: `keys ++ names` (quantile columns as doubles, in ps
    * order). `value` should be cast to double by the caller for bit parity
    * with percentile(). Groups whose values are all null are absent.
    */
  def grouped(df: DataFrame, keys: Seq[String], value: String,
      ps: Seq[Double], names: Seq[String]): DataFrame = {
    require(ps.nonEmpty && ps.length == names.length,
      "one output name per quantile")
    groupedFromCounts(
      df.filter(col(value).isNotNull)
        .groupBy((keys.map(col) :+ col(value)): _*)
        .agg(count(lit(1)).as("__cnt")),
      keys, value, "__cnt", ps, names)
  }

  /** [[grouped]] over PRE-AGGREGATED value counts — one row per
    * (keys, value) with its occurrence count in `cnt`. Callers that
    * already hold the value-counts grain (e.g. a stats row computing
    * count/mean AND quantiles from one groupBy) skip the second source
    * scan this method would otherwise pay. NULL values must already be
    * excluded.
    *
    * `extra` rides companion aggregates on the SAME final aggregation
    * (one (name, aggExpr) pair per output column), so a stats row needing
    * count/mean alongside the quantiles stays ONE job instead of
    * checkpoint + two branches + join — at small scale each extra Spark
    * job is a fixed ~0.15-0.3 s floor, and at cluster scale each is a
    * scheduling round-trip. The expressions aggregate rows of the
    * cumulative frame: one row per (keys, value) carrying `cnt` as
    * `__cnt` plus the window columns `__n` (group total) and `__cum`
    * (cumulative count in value order). Counts-grain identities hold
    * exactly: sum(__cnt) is the row count and sum(value·__cnt)/sum(__cnt)
    * is bit-equal to avg over raw rows whenever value is integer-valued
    * (integer-valued double sums are exact below 2^53 in any order).
    */
  def groupedFromCounts(counts: DataFrame, keys: Seq[String], value: String,
      cnt: String, ps: Seq[Double], names: Seq[String],
      extra: Seq[(String, Column)] = Nil): DataFrame = {
    require(ps.nonEmpty && ps.length == names.length,
      "one output name per quantile")
    val v = col(value)
    val byKeys = Window.partitionBy(keys.map(col): _*)
    val cum = counts
      .withColumn("__cnt", col(cnt))
      .withColumn("__n", sum(col("__cnt")).over(byKeys))
      .withColumn("__cum", sum(col("__cnt")).over(byKeys.orderBy(v)))
    // 0-indexed target rank r = p·(n−1); the distinct value whose
    // cumulative span covers rank k is the one with cum−cnt ≤ k < cum
    val aggCols = ps.indices.flatMap { i =>
      val r = lit(ps(i)) * (col("__n") - 1).cast(DoubleType)
      val kl = floor(r); val kh = ceil(r)
      Seq(
        max(when(col("__cum") - col("__cnt") <= kl && kl < col("__cum"), v))
          .as(s"__vl_$i"),
        max(when(col("__cum") - col("__cnt") <= kh && kh < col("__cum"), v))
          .as(s"__vh_$i"),
        max(r).as(s"__r_$i"))
    } ++ extra.map { case (n, c) => c.as(n) }
    val sel = keys.map(col) ++ ps.indices.map { i =>
      val r = col(s"__r_$i"); val kl = floor(r); val kh = ceil(r)
      when(kl === kh, col(s"__vl_$i").cast(DoubleType))
        .otherwise(
          (kh.cast(DoubleType) - r) * col(s"__vl_$i") +
            (r - kl.cast(DoubleType)) * col(s"__vh_$i"))
        .as(names(i))
    } ++ extra.map { case (n, _) => col(n) }
    cum.groupBy(keys.map(col): _*).agg(aggCols.head, aggCols.tail: _*)
      .select(sel: _*)
  }


  /** Exact interpolated global quantiles of `value` at probabilities `ps`,
    * bit-identical to `percentile(value, p)`. No persist: the kernel reads
    * the source twice unless a rank needs narrowing, and building the
    * in-memory columnar cache measures ~2× the cost of the second pruned-
    * column decode (r13 probe at sf1).
    */
  def percentiles(df: DataFrame, value: String, ps: Seq[Double],
      leafLimit: Long = 1L << 16): Seq[Double] =
    exact(projected(df, value), ps, leafLimit = leafLimit)._1

  /** The single-double-column `__v` projection every kernel pass scans.
    * Callers composing several reads over one column (a sketch plus an
    * exact gate) project once and hand it to [[exact]] / [[medianAndMad]].
    */
  def projected(df: DataFrame, value: String): DataFrame =
    df.select(col(value).cast(DoubleType).as("__v"))
      .filter(col("__v").isNotNull)

  /** Exact interpolated quantiles of a [[projected]] frame at `ps` — and
    * the exact rank `count(v <= x)` of every probe value x, from the SAME
    * region scan (the rank of a GK estimate is what the a19 gate needs).
    * Returns (quantiles in `ps` order, probe ranks in `probes` order, row
    * count). Quantiles are RAW; callers round.
    */
  def exact(base: DataFrame, ps: Seq[Double], probes: Seq[Double] = Nil,
      leafLimit: Long = 1L << 16): (Seq[Double], Seq[Long], Long) = {
    require(ps.nonEmpty && ps.forall(p => p >= 0 && p <= 1), "p in [0,1]")
    require(probes.forall(isFinite), "finite probes")
    val x = locate(base, "quantiles of empty input")
    // a probe's leaf is the point [v, v]: the regions before it hold
    // exactly the rows < v, and it collects at most one distinct value
    val leaves = mergeIntervals(
      ps.map(x.leaf(_, leafLimit)) ++ probes.map(v => (v, v)))
    val r = x.scan(leaves, needSums = false)
    val ranks = probes.map { v =>
      val t = 2 * leaves.indexWhere(l => v >= l._1 && v <= l._2) + 1
      r.before(t) + r.leafEntries(t).filter(_._1 <= v).map(_._2).sum
    }
    (ps.map(interpolate(_, x.n, r.valueAt)), ranks, x.n)
  }

  /** Median and median absolute deviation of a [[projected]] frame in
    * three jobs when no rank span needs narrowing: one bucket histogram
    * and one region scan per round. The deviation round needs NO second
    * histogram — the x-space buckets map driver-side into |x − med| space
    * (a bucket entirely on one side of `med` maps monotonically; a
    * straddling bucket maps to [0, max distance]; counts carry over
    * exactly and IEEE subtraction's monotone rounding keeps every value
    * inside its mapped interval), so the deviation rank locates in
    * metadata. `snapMedian` is applied to the interpolated median BEFORE
    * the deviation round (a14's contract snaps to the round-6 gate grid
    * so both engines see bit-identical deviation inputs). Returns (snapped
    * median, raw MAD).
    */
  def medianAndMad(base: DataFrame,
      snapMedian: Double => Double = identity,
      leafLimit: Long = 1L << 16): (Double, Double) = {
    def median(x: Located): Double = {
      val r = x.scan(Seq(x.leaf(0.5, leafLimit)), needSums = false)
      interpolate(0.5, x.n, r.valueAt)
    }
    val x = locate(base, "median of empty input")
    val med = snapMedian(median(x))
    val dev = x.buckets.map { b =>
      if (b.hi <= med) Bucket(med - b.hi, med - b.lo, b.cnt)
      else if (b.lo >= med) Bucket(b.lo - med, b.hi - med, b.cnt)
      else Bucket(0.0, math.max(med - b.lo, b.hi - med), b.cnt)
    }
    (med, median(new Located(base.select(abs(col("__v") - med).as("__v")),
      mergedBuckets(dev), x.fewParts)))
  }

  /** Percentile's interpolation at probability p over n rows, reading the
    * order statistics from `at` (0-indexed rank → value).
    */
  private[operators] def interpolate(p: Double, n: Long,
      at: Long => Double): Double = {
    val pos = p * (n - 1)
    val lo = math.floor(pos).toLong; val hi = math.ceil(pos).toLong
    if (lo == hi) at(lo) else (hi - pos) * at(lo) + (pos - lo) * at(hi)
  }

  /** Scale-free bucket id: 0 for ±0, else sign-aware 64-per-octave log
    * bucket offset to keep negatives < 0-bucket < positives. The SQL and
    * JVM forms evaluate the same StrictMath operations (Spark's log2 is
    * StrictMath.log(x) / StrictMath.log(2)), so both arms bucket a value
    * identically; non-finite inputs land in extreme buckets where
    * [[locate]]'s finiteness check rejects them.
    */
  private def bucketId(v: Column): Column = {
    def mag(x: Column) =
      floor(least(greatest(log2(x) * 64.0, lit(-1e9)), lit(1e9)))
    when(v === 0.0, lit(0L))
      .when(v > 0.0, mag(v) + (1L << 40))
      .otherwise(-mag(-v) - (1L << 40))
  }

  private def bucketIdJvm(v: Double): Long = {
    def mag(x: Double) = math.floor(math.min(math.max(
      StrictMath.log(x) / StrictMath.log(2) * 64.0, -1e9), 1e9)).toLong
    if (v == 0.0) 0L
    else if (v > 0.0) mag(v) + (1L << 40)
    else -mag(-v) - (1L << 40)
  }

  private val Bins = 4096

  /** Equal-width bin of v in [lo, hi] (lo < hi, one log bucket, so hi − lo
    * is finite); the division comes first so a subnormal span cannot
    * underflow the bin width.
    */
  private def binJvm(lo: Double, hi: Double)(v: Double): Long =
    math.min(math.floor((v - lo) / (hi - lo) * Bins), Bins - 1.0).toLong

  private def binSql(lo: Double, hi: Double)(v: Column): Column =
    least(floor((v - lo) / (hi - lo) * Bins), lit(Bins - 1L))

  /** Narrowing passes per rank, at most. A span wider than one log bucket
    * first re-buckets by log id — only deviation-space spans are: their
    * buckets are mapped from x space, not histogrammed, and overlapping
    * ones merge. A span inside one log bucket lies on one side of zero
    * with |hi| / |lo| (or the reverse) < 2^(1/64), so its width is under
    * (2^(1/64) − 1) · 2^53 < 2^47 steps of its smallest ulp. Each equal-
    * width pass keeps one bin, 2^-12 of that width, so after four passes
    * the span is narrower than half an ulp: one value. 1 + 4 = 5.
    */
  private val MaxNarrowPasses = 5

  private[operators] final case class Bucket(lo: Double, hi: Double, cnt: Long)

  /** (cnt, min, max) per occupied key of `frame`'s `__v`, both arms. */
  private def histogram(frame: DataFrame, fewParts: Boolean,
      keyJvm: Double => Long, keySql: Column => Column): Array[Bucket] =
    if (fewParts) {
      import frame.sparkSession.implicits._
      frame.as[Double].mapPartitions { it =>
        val m = mutable.LongMap.empty[(Long, Double, Double)]
        it.foreach { v =>
          val b = keyJvm(v)
          m.get(b) match {
            case Some((c, lo, hi)) =>
              // math.min/max propagate NaN, so a NaN surfaces in the
              // bucket bounds for the finiteness check
              m.update(b, (c + 1, math.min(lo, v), math.max(hi, v)))
            case None => m.update(b, (1L, v, v))
          }
        }
        m.iterator.map { case (b, (c, lo, hi)) => (b, c, lo, hi) }
      }.collect()
        .groupBy(_._1).values
        .map(g => Bucket(g.map(_._3).min, g.map(_._4).max, g.map(_._2).sum))
        .toArray
    } else
      frame.groupBy(keySql(col("__v")).as("b"))
        .agg(count(lit(1)).as("c"), min("__v").as("lo"), max("__v").as("hi"))
        .collect()
        .map(r => Bucket(r.getDouble(2), r.getDouble(3), r.getLong(1)))

  /** Sort + merge value-overlapping buckets (deviation-space buckets
    * overlap; histogram keys are monotone, so theirs never do).
    */
  private def mergedBuckets(raw: Array[Bucket]): Array[Bucket] = {
    val sorted = raw.sortBy(_.lo)
    sorted.tail.foldLeft(List(sorted.head)) { (acc, b) =>
      if (b.lo <= acc.head.hi)
        Bucket(acc.head.lo, math.max(acc.head.hi, b.hi),
          acc.head.cnt + b.cnt) :: acc.tail
      else b :: acc
    }.reverse.toArray
  }

  /** Pass 1: the log-bucket histogram of a [[projected]] frame. */
  private[operators] def locate(base: DataFrame, emptyMsg: String): Located = {
    val fewParts = base.rdd.getNumPartitions <= 64
    val raw = histogram(base, fewParts, bucketIdJvm, bucketId)
    if (raw.isEmpty) throw new IllegalArgumentException(emptyMsg)
    // Spark orders NaN above every double, so max() surfaces any NaN in
    // the column; ±Inf surfaces as the min/max itself. Neither has a
    // cross-engine percentile semantics worth chasing (DuckDB and Spark
    // already disagree on them), and both would poison the span
    // arithmetic — reject loudly instead of returning garbage.
    if (!raw.forall(b => isFinite(b.lo) && isFinite(b.hi))) {
      val mn = raw.map(_.lo).reduce(math.min(_, _))
      val mx = raw.map(_.hi).reduce(math.max(_, _))
      throw new IllegalArgumentException(
        s"percentiles: non-finite values in the column (min=$mn, max=$mx) — " +
          "filter NaN/Inf out first; their ordering is engine-specific")
    }
    new Located(base, mergedBuckets(raw), fewParts)
  }

  /** A `__v` frame with disjoint, value-ordered buckets that count every
    * row exactly: pass 1's histogram, or one derived from it.
    */
  private[operators] final class Located(frame: DataFrame,
      val buckets: Array[Bucket], val fewParts: Boolean) {
    private val cum = buckets.scanLeft(0L)(_ + _.cnt)
    val n: Long = cum.last
    // narrowing histograms by span: a quantile's floor and ceil ranks
    // usually share their spans, and pay each pass once
    private val narrowed = mutable.HashMap.empty[(Double, Double), Array[Bucket]]

    /** (lo, hi, population, rows below lo) of the bucket holding rank k. */
    private def rankSpan(k: Long, bs: Array[Bucket], cm: Array[Long])
        : (Double, Double, Long, Long) = {
      val i = java.util.Arrays.binarySearch(cm, k)
      val at = if (i >= 0) i else -i - 2 // cm(at) <= k < cm(at+1)
      require(at >= 0 && at < bs.length, s"rank $k out of [0, $n)")
      (bs(at).lo, bs(at).hi, bs(at).cnt, cm(at))
    }

    /** Value span holding rank k, narrowed until it holds ≤ `leafLimit`
      * rows or one value. Bucket bounds are ACTUAL min/max values, so
      * `v >= lo && v <= hi` selects exactly the span's rows.
      */
    private def rankLeaf(k: Long, leafLimit: Long): (Double, Double) = {
      var (lo, hi, cnt, below) = rankSpan(k, buckets, cum)
      var pass = 0
      while (cnt > leafLimit && lo < hi) {
        require(pass < MaxNarrowPasses,
          s"rank $k: span [$lo, $hi] holds $cnt rows after $pass passes")
        pass += 1
        val (l, h) = (lo, hi)
        val bins = narrowed.getOrElseUpdate((l, h), mergedBuckets {
          val span = frame.filter(col("__v") >= l && col("__v") <= h)
          if (bucketIdJvm(l) == bucketIdJvm(h))
            histogram(span, fewParts, binJvm(l, h), binSql(l, h))
          else histogram(span, fewParts, bucketIdJvm, bucketId)
        })
        val total = bins.map(_.cnt).sum
        require(total == cnt,
          s"pass disagreement: span [$l, $h] counted $cnt, narrowed $total")
        val next = rankSpan(k, bins, bins.scanLeft(below)(_ + _.cnt))
        lo = next._1; hi = next._2; cnt = next._3; below = next._4
      }
      (lo, hi)
    }

    /** Leaf for probability p: the hull of its floor and ceil ranks'
      * spans. The ranks are consecutive order statistics, so no row lies
      * strictly between the two spans and the hull adds none.
      */
    def leaf(p: Double, leafLimit: Long): (Double, Double) = {
      val pos = p * (n - 1)
      val (lo, hi) = rankLeaf(math.floor(pos).toLong, leafLimit)
      val (lo2, hi2) = rankLeaf(math.ceil(pos).toLong, leafLimit)
      (math.min(lo, lo2), math.max(hi, hi2))
    }

    def scan(leaves: Seq[(Double, Double)], needSums: Boolean): Regions = {
      val r = regionScan(frame, leaves, fewParts, needSums)
      require(r.total == n, s"pass disagreement: pass1 n=$n, scan n=${r.total}")
      r
    }
  }

  /** Ascending merge of possibly-overlapping leaf intervals — the region
    * scan's tag CASE requires ascending, disjoint leaves.
    */
  private[operators] def mergeIntervals(ls: Seq[(Double, Double)])
      : Seq[(Double, Double)] = {
    val sorted = ls.sortBy(_._1)
    sorted.tail.foldLeft(List(sorted.head)) { (acc, l) =>
      if (l._1 <= acc.head._2)
        (acc.head._1, math.max(acc.head._2, l._2)) :: acc.tail
      else l :: acc
    }.reverse
  }

  /** Region scan result, tags in value order: even = opaque block (count,
    * decimal sum), odd = leaf (sorted value counts), `last` the top tag.
    */
  private[operators] final class Regions(
      val last: Int,
      leaf: Map[Int, Array[(Double, Long)]],
      cnt: Map[Int, Long],
      sum: Map[Int, JBD]) {
    def leafEntries(t: Int): Array[(Double, Long)] =
      leaf.getOrElse(t, Array.empty)
    def blockCnt(t: Int): Long = cnt.getOrElse(t, 0L)
    def blockSum(t: Int): JBD = sum.getOrElse(t, JBD.ZERO)

    /** Rows in the regions before tag t. */
    def before(t: Int): Long = (0 until t).map(i =>
      if (i % 2 == 0) blockCnt(i) else leafEntries(i).map(_._2).sum).sum

    def total: Long = before(last + 1)

    /** Exact value at a global 0-indexed rank, which must land in a leaf. */
    def valueAt(k: Long): Double = {
      var acc = 0L; var t = 0
      while (t <= last) {
        if (t % 2 == 0) {
          acc += blockCnt(t)
          require(k >= acc, s"rank $k fell in opaque region $t")
        } else {
          val es = leafEntries(t); var i = 0
          while (i < es.length) {
            acc += es(i)._2
            if (k < acc) return es(i)._1
            i += 1
          }
        }
        t += 1
      }
      throw new IllegalStateException(s"rank $k beyond population $acc")
    }
  }

  /** One tagged scan: value counts inside each leaf, count (and, with
    * `needSums`, DECIMAL(28,6) sum of the strictly-between blocks) outside.
    */
  private def regionScan(base: DataFrame, leaves: Seq[(Double, Double)],
      fewParts: Boolean, needSums: Boolean): Regions = {
    val last = 2 * leaves.length
    if (fewParts) {
      import base.sparkSession.implicits._
      // tag layout mirrors the SQL CASE below; sums accumulate in exact
      // JBD per partition (serialized as plain strings — metadata-sized)
      val ls = leaves.toArray
      val parts = base.as[Double].mapPartitions { it =>
        val leafCnt = mutable.HashMap.empty[(Int, Double), Long]
        val blockCnt = new Array[Long](last + 1)
        val blockSum = Array.fill(last + 1)(JBD.ZERO)
        it.foreach { v =>
          var t = last
          var i = 0
          var done = false
          while (!done && i < ls.length) {
            if (v < ls(i)._1) { t = 2 * i; done = true }
            else if (v <= ls(i)._2) { t = 2 * i + 1; done = true }
            else i += 1
          }
          if (t % 2 == 1)
            leafCnt.updateWith((t, v))(o => Some(o.getOrElse(0L) + 1L))
          else {
            blockCnt(t) += 1
            if (needSums && t != 0 && t != last)
              blockSum(t) = blockSum(t).add(snap(v))
          }
        }
        leafCnt.iterator.map { case ((t, v), c) => (t, Option(v), c, "") } ++
          (0 to last by 2).iterator.filter(blockCnt(_) > 0).map(t =>
            (t, Option.empty[Double], blockCnt(t), blockSum(t).toPlainString))
      }.collect()
      val leafAgg = parts.filter(_._2.isDefined)
        .groupBy(r => (r._1, r._2.get))
        .map { case ((t, v), g) => (t, v, g.map(_._3).sum) }
        .groupBy(_._1)
        .map { case (t, g) =>
          t -> g.map(r => (r._2, r._3)).toArray.sortBy(_._1) }
      val blocks = parts.filter(_._2.isEmpty).groupBy(_._1)
      new Regions(last, leafAgg,
        blocks.map { case (t, g) => t -> g.map(_._3).sum },
        blocks.map { case (t, g) =>
          t -> g.filter(_._4.nonEmpty).map(r => new JBD(r._4))
            .foldLeft(JBD.ZERO)(_.add(_)) })
    } else {
      val v = col("__v")
      val tag = leaves.zipWithIndex.foldLeft(null: Column) {
        case (acc, ((lo, hi), i)) =>
          val below =
            if (acc == null) when(v < lo, 2 * i) else acc.when(v < lo, 2 * i)
          below.when(v <= hi, 2 * i + 1)
      }.otherwise(last)
      val isLeaf = leaves.indices.map(i => lit(2 * i + 1))
        .foldLeft(lit(false))((acc, t) => acc || (tag === t))
      // decimal conversion only where the sum is consumed (the strictly-
      // between regions); outer and leaf rows skip it, and rank-only
      // callers (needSums=false) skip it everywhere
      val isMiddle = !isLeaf && tag =!= 0 && tag =!= last
      val dcol =
        if (needSums) when(isMiddle, v).cast(DecimalType(28, 6))
        else lit(null).cast(DecimalType(28, 6))
      val rows = base
        .select(tag.as("__t"), when(isLeaf, v).as("__k"), dcol.as("__d"))
        .groupBy("__t", "__k")
        .agg(count(lit(1)).as("c"), sum(col("__d")).as("s"))
        .collect()
      val byTag = rows.groupBy(_.getInt(0))
      new Regions(last,
        byTag.collect { case (t, g) if t % 2 == 1 =>
          t -> g.map(r => (r.getDouble(1), r.getLong(2))).sortBy(_._1) },
        byTag.collect { case (t, g) if t % 2 == 0 =>
          t -> g.map(_.getLong(2)).sum },
        byTag.collect { case (t, g) if t % 2 == 0 =>
          t -> g.flatMap(r => Option(r.getDecimal(3)))
            .foldLeft(JBD.ZERO)(_.add(_)) })
    }
  }

  /** = CAST(d AS DECIMAL(28,6)): shortest-string decimal, HALF_UP. */
  private[operators] def snap(d: Double): JBD =
    JBD.valueOf(d).setScale(6, RoundingMode.HALF_UP)

  /** Round a double as Spark's `round(col, 6)` does (shortest-string
    * BigDecimal, HALF_UP) — for embedding driver-computed cutoffs back
    * into a gate that previously rounded the in-plan percentile.
    */
  def round6(d: Double): Double = snap(d).doubleValue()
}
