package graft.llm

import graft.Tables.GraftMatOps
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Similarity search over an embedding column (`array<float>`).
  *
  * Brute-force cosine top-k (the registered `llm_cosine_topk` oracle query)
  * is the correctness baseline; this module adds the scale path: random-
  * hyperplane LSH bucketing so candidate generation is a shuffle on bucket
  * signature instead of an n×m cross join. At 100 TB the cross join is the
  * plan-killer; with b sign-bits the candidate set shrinks ~2^b-fold while
  * recall is recovered by probing nBits rotations (multi-probe).
  *
  * Hyperplanes are deterministic pseudo-random (seeded hash of (plane,dim))
  * — no driver-side randomness, identical across runs and engines.
  */
object Similarity {

  /** Deterministic hyperplane coefficient in ~[-7.5, 7.5]: md5-derived. */
  private def planeCoef(salt: Int, plane: Int, dim: Int): Double = {
    val md = java.security.MessageDigest.getInstance("MD5")
    val h = md.digest(s"$salt:$plane:$dim".getBytes("UTF-8"))
    ((h(0) & 0xff) - 127.5) / 17.0
  }

  /** Column expression: sign-bit signature of `vecCol` under `nBits`
    * deterministic hyperplanes, as a string like "0110...". `salt` selects
    * an independent hyperplane family (one per hash table).
    */
  def lshSignature(spark: SparkSession, vecCol: String, dims: Int,
      nBits: Int, salt: Int = 0): org.apache.spark.sql.Column = {
    // vec_dot against a constant coefficient array: same left-to-right
    // accumulation as the oracle's chained `+` (bit-identical), but the
    // plan carries one small expression per bit instead of a dims-term
    // tree (512-term chains measurably slow planning/codegen).
    val bits = (0 until nBits).map { p =>
      val coefs = (0 until dims).map(i => s"${planeCoef(salt, p, i)}D")
        .mkString(", ") // D suffix: double literal under ANSI parsing
      s"CASE WHEN vec_dot($vecCol, array($coefs)) >= 0 THEN '1' ELSE '0' END"
    }
    expr(s"concat(${bits.mkString(", ")})")
  }

  /** Brute-force cosine top-k — the exhaustive baseline every ANN variant
    * is measured against (see the `llm_ann_recall` composition). Exact
    * cosine of every query against every candidate; correct at any scale
    * but O(|q|·n) — the thing IVF/LSH/PQ exist to avoid.
    *
    * `carry` threads extra embedding columns through both sides (emitted
    * as `q_<c>` / `c_<c>`), and `pairPred` restricts pairs BEFORE ranking
    * (so the top-k is over the restricted set) — together they express
    * variants like hard-negative mining (carry the label, keep only
    * cross-label pairs) on the ONE brute formulation, instead of a copy
    * whose numeric guarantees could drift.
    */
  def bruteTopK(embeddings: DataFrame, queryPred: Column, k: Int,
      roundScale: Int, carry: Seq[String] = Nil,
      pairPred: Column = lit(true),
      ePre: Option[DataFrame] = None): DataFrame = {
    // a caller that already materialized the normalized (vec_id, v, nrm)
    // frame (the recall rows run this exact arm NEXT TO an approximate arm
    // over the same table) passes it in — one corpus scan instead of two.
    // Only valid when no carry columns are requested (ePre carries none).
    require(ePre.isEmpty || carry.isEmpty,
      "ePre cannot be combined with carry columns")
    val withNorm = ePre.getOrElse {
      embeddings.select(col("vec_id") +: carry.map(col) :+
          expr("transform(embedding, x -> CAST(x AS DOUBLE))").as("v"): _*)
        .withColumn("nrm", expr("sqrt(vec_dot(v, v))"))
    }
    val q = withNorm.filter(queryPred)
      .select(col("vec_id").as("qid") +:
        carry.map(cc => col(cc).as(s"q_$cc")) :+
        col("v").as("qv") :+ col("nrm").as("qn"): _*)
    val c = withNorm
      .select(col("vec_id").as("cid") +:
        carry.map(cc => col(cc).as(s"c_$cc")) :+
        col("v").as("cv") :+ col("nrm").as("cn"): _*)
    val scored = q.join(c, col("qid") =!= col("cid") && pairPred)
      .withColumn("dot", expr("vec_dot(qv, cv)"))
      .withColumn("cos_r", round(col("dot") / (col("qn") * col("cn")),
        roundScale))
    val w = Window.partitionBy("qid").orderBy(col("cos_r").desc, col("cid"))
    val outCols = (col("qid") +: carry.map(cc => col(s"q_$cc"))) ++
      (col("cid") +: carry.map(cc => col(s"c_$cc"))) ++
      Seq(col("cos_r"), col("rn").cast(IntegerType).as("rn"))
    scored.withColumn("rn", row_number().over(w)).filter(col("rn") <= k)
      .select(outCols: _*)
  }

  /** DuckDB oracle for bruteTopK (the unnest-join dot formulation — the
    * per-dimension SUM groups in index order, matching vec_dot's
    * left-to-right accumulation bit-for-bit). `carry`/`pairWhere` mirror
    * bruteTopK's carry/pairPred (pairWhere references `lq`/`lc`, the
    * query- and candidate-side embedding rows).
    */
  def bruteOracleSql(k: Int, roundScale: Int, queryIdBound: Int,
      carry: Seq[String] = Nil, pairWhere: String = ""): String = {
    val carryJoin =
      if (carry.isEmpty) ""
      else """
          JOIN embeddings lq ON lq.vec_id = qid
          JOIN embeddings lc ON lc.vec_id = cid"""
    val carryCols = carry.map(c => s", lq.$c AS q_$c").mkString +
      carry.map(c => s", lc.$c AS c_$c").mkString
    val outCarry = carry.map(c => s"q_$c, ").mkString +
      "cid" + carry.map(c => s", c_$c").mkString
    val where = if (pairWhere.isEmpty) "" else s"\n          WHERE $pairWhere"
    s"""WITH e AS (
          SELECT vec_id, i, CAST(embedding[i] AS DOUBLE) AS x
          FROM (SELECT vec_id, embedding,
                       unnest(generate_series(1, len(embedding))) AS i
                FROM embeddings) t),
        n AS (SELECT vec_id, sqrt(SUM(x * x)) AS nrm FROM e GROUP BY 1),
        dots AS (
          SELECT q.vec_id AS qid, c.vec_id AS cid, SUM(q.x * c.x) AS dot
          FROM e q JOIN e c ON q.i = c.i AND q.vec_id < $queryIdBound
                           AND c.vec_id <> q.vec_id
          GROUP BY 1, 2),
        scored AS (
          SELECT qid, cid$carryCols,
                 round(dot / (nq.nrm * nc.nrm), $roundScale) AS cos_r
          FROM dots
          JOIN n nq ON nq.vec_id = qid
          JOIN n nc ON nc.vec_id = cid$carryJoin$where)
        SELECT qid, $outCarry, cos_r, CAST(rn AS INTEGER) AS rn
        FROM (SELECT *,
                     row_number() OVER (PARTITION BY qid
                                        ORDER BY cos_r DESC, cid) AS rn
              FROM scored) t
        WHERE rn <= $k"""
  }

  /** Bucketed ANN: `nTables` independent LSH tables (classic OR-
    * amplification — a pair is a candidate if it collides in ANY table),
    * exact cosine on the deduplicated candidates, top-k per query.
    * Candidates come from a hash shuffle on (table-prefixed) bucket —
    * never an all-pairs cross join.
    */
  def annTopK(embeddings: DataFrame, queryPred: org.apache.spark.sql.Column,
      dims: Int = 64, nBits: Int = 8, nTables: Int = 3, k: Int = 5,
      roundScale: Int = -1): DataFrame = {
    val spark = embeddings.sparkSession
    // vectors materialized ONCE, keyed by id; everything downstream of
    // candidate generation re-joins them by id — the bucket join and the
    // pair dedup shuffle two small columns, never the dims-double arrays
    val e = embeddings.select(col("vec_id"),
        expr("transform(embedding, x -> CAST(x AS DOUBLE))").as("v"))
      .withColumn("nrm", expr("sqrt(vec_dot(v, v))"))
      .mat()
    val buckets = array((0 until nTables).map(t =>
      concat(lit(s"$t:"), lshSignature(spark, "v", dims, nBits, t))): _*)
    // eagerly materialized: eb feeds both sides of the bucket join —
    // otherwise the signature expressions (nTables × nBits dims-length dot
    // products) evaluate twice, and a lazy cache leaves the sides racing
    val eb = e.select(col("vec_id"), explode(buckets).as("bucket"))
      .mat()
    val q = eb.filter(queryPred).select(col("vec_id").as("qid"), col("bucket"))
    val c = eb.select(col("vec_id").as("cid"), col("bucket"))
    val cand = q.join(c, Seq("bucket")) // shuffle on bucket, not cross join
      .filter(col("qid") =!= col("cid"))
      .select("qid", "cid")
      .dropDuplicates("qid", "cid") // pairs colliding in several tables
    val rawCos = col("dot") / (col("qn") * col("cn"))
    val cosCol = if (roundScale >= 0) round(rawCos, roundScale) else rawCos
    val cosName = if (roundScale >= 0) "cos_r" else "cos"
    val scored = cand
      .join(e.select(col("vec_id").as("qid"), col("v").as("qv"),
        col("nrm").as("qn")), "qid")
      .join(e.select(col("vec_id").as("cid"), col("v").as("cv"),
        col("nrm").as("cn")), "cid")
      .withColumn("dot",
        expr("vec_dot(qv, cv)"))
      .withColumn(cosName, cosCol)
    val w = Window.partitionBy("qid").orderBy(col(cosName).desc, col("cid"))
    scored.withColumn("rn", row_number().over(w)).filter(col("rn") <= k)
      .select(col("qid"), col("cid"), col(cosName),
        col("rn").cast(org.apache.spark.sql.types.IntegerType).as("rn"))
  }

  /** DuckDB oracle SQL for annTopK (same hyperplanes, same left-associated
    * IEEE arithmetic — the generated coefficient literals round-trip
    * identically through both parsers, so bucket signatures and cosines
    * match bit-for-bit; only the final round() can differ, at half-ulp
    * boundaries).
    */
  def annOracleSql(dims: Int, nBits: Int, nTables: Int, k: Int,
      roundScale: Int, queryIdBound: Int = 10): String = {
    def acc(tbl: String, i: Int) = s"CAST($tbl.embedding[$i] AS DOUBLE)"
    def sig(salt: Int): String = {
      val bits = (0 until nBits).map { p =>
        val terms = (1 to dims)
          .map(i => s"${acc("e", i)} * ${planeCoef(salt, p, i - 1)}")
          .mkString(" + ")
        s"CASE WHEN ($terms) >= 0 THEN '1' ELSE '0' END"
      }
      s"concat('$salt:', ${bits.mkString(", ")})"
    }
    val ebLegs = (0 until nTables)
      .map(t => s"SELECT e.vec_id, ${sig(t)} AS bucket FROM embeddings e")
      .mkString("\n UNION ALL\n ")
    val normChain = (1 to dims)
      .map(i => s"${acc("e", i)} * ${acc("e", i)}").mkString(" + ")
    val dotChain = (1 to dims)
      .map(i => s"${acc("a", i)} * ${acc("b", i)}").mkString(" + ")
    s"""WITH eb AS ($ebLegs),
        cand AS (
          SELECT DISTINCT x.vec_id AS qid, y.vec_id AS cid
          FROM eb x JOIN eb y ON x.bucket = y.bucket
          WHERE x.vec_id < $queryIdBound AND y.vec_id <> x.vec_id),
        n AS (SELECT e.vec_id, sqrt($normChain) AS nrm FROM embeddings e),
        scored AS (
          SELECT qid, cid,
                 round(($dotChain) / (na.nrm * nb.nrm), $roundScale) AS cos_r
          FROM cand
          JOIN embeddings a ON a.vec_id = qid
          JOIN embeddings b ON b.vec_id = cid
          JOIN n na ON na.vec_id = qid
          JOIN n nb ON nb.vec_id = cid)
        SELECT qid, cid, cos_r, CAST(rn AS INTEGER) AS rn
        FROM (SELECT qid, cid, cos_r,
                     row_number() OVER (PARTITION BY qid
                                        ORDER BY cos_r DESC, cid) AS rn
              FROM scored) t
        WHERE rn <= $k"""
  }

  /** Embedding-cosine near-duplicate pairs: LSH candidates, exact cosine,
    * threshold filter, each unordered pair once (qid < cid). The dedup
    * variant of annTopK — same bucket-shuffle cost shape.
    */
  def nearDupPairs(embeddings: DataFrame, dims: Int, nBits: Int,
      nTables: Int, tau: Double, roundScale: Int,
      idGrain: Boolean = false): DataFrame = {
    val spark = embeddings.sparkSession
    if (idGrain) {
      // DIRECT ID GRAIN (r15 adaptive — caller's multiplicity probe says
      // duplicate vectors ≈ none, so bucket groups cannot go quadratic in
      // copy count): bucket ids straight off the vectors, id-only
      // candidate self-join, vectors re-joined by id for the cosine —
      // the dims-double arrays never ride the bucket shuffle. Output
      // identical to the content-grain arm (AdaptiveGrainSpec pins it).
      val e = embeddings.select(col("vec_id"),
          expr("transform(embedding, x -> CAST(x AS DOUBLE))").as("v"))
        .withColumn("nrm", expr("sqrt(vec_dot(v, v))"))
        .mat()
      val buckets = array((0 until nTables).map(t =>
        concat(lit(s"$t:"), lshSignature(spark, "v", dims, nBits, t))): _*)
      val eb = e.select(col("vec_id"), explode(buckets).as("bucket"))
        .mat() // self-join sides, eagerly materialized
      val a = eb.select(col("vec_id").as("qid"), col("bucket"))
      val b = eb.select(col("vec_id").as("cid"), col("bucket"))
      return a.join(b, Seq("bucket"))
        .filter(col("qid") < col("cid"))
        .select("qid", "cid").dropDuplicates("qid", "cid")
        .join(e.select(col("vec_id").as("qid"), col("v").as("qv"),
          col("nrm").as("qn")), "qid")
        .join(e.select(col("vec_id").as("cid"), col("v").as("cv"),
          col("nrm").as("cn")), "cid")
        .withColumn("cos_r",
          round(expr("vec_dot(qv, cv)") / (col("qn") * col("cn")), roundScale))
        .filter(col("cos_r") >= tau)
        .select("qid", "cid", "cos_r")
    }
    // DISTINCT-VECTOR grain (r14, the sf10 finding): identical vectors
    // share every LSH bucket, so bucketing VECTOR IDS makes each bucket
    // group quadratic in duplicate multiplicity (a 100×-re-crawled corpus
    // put C(100,2)·|vectors| pairs through the dedup and the vec_dot
    // verification). Buckets, candidates and the cosine all run once per
    // distinct vector value; the id-pair expansion is two bounded
    // equi-joins. Same-vector pairs score round(dot/(nrm·nrm)) — the
    // identical IEEE expression the oracle evaluates for an identical
    // id pair — and always share buckets, exactly as at id grain.
    val ids = embeddings.select(col("vec_id"),
        md5(expr("cast(transform(embedding, x -> CAST(x AS DOUBLE)) AS STRING)"))
          .as("vh"))
      .mat()
    val reps = embeddings
      .select(col("vec_id"),
        expr("transform(embedding, x -> CAST(x AS DOUBLE))").as("v"))
      .withColumn("vh", md5(col("v").cast(StringType)))
      .groupBy(col("vh"))
      .agg(min(struct(col("vec_id"), col("v"))).as("r"))
      .select(col("vh"), col("r.vec_id").as("rid"), col("r.v").as("v"))
      .withColumn("nrm", expr("sqrt(vec_dot(v, v))"))
      .mat()
    val buckets = array((0 until nTables).map(t =>
      concat(lit(s"$t:"), lshSignature(spark, "v", dims, nBits, t))): _*)
    val eb = reps.select(col("vh"), col("rid"), explode(buckets).as("bucket"))
      .mat()
    val candV = eb.as("a").join(eb.as("b"),
        col("a.bucket") === col("b.bucket") && col("a.rid") < col("b.rid"))
      .select(col("a.vh").as("h1"), col("b.vh").as("h2"))
      .dropDuplicates("h1", "h2")
    val pairV = candV
      .join(reps.select(col("vh").as("h1"), col("v").as("qv"),
        col("nrm").as("qn")), "h1")
      .join(reps.select(col("vh").as("h2"), col("v").as("cv"),
        col("nrm").as("cn")), "h2")
      .withColumn("cos_r",
        round(expr("vec_dot(qv, cv)") / (col("qn") * col("cn")), roundScale))
      .filter(col("cos_r") >= tau)
      .select("h1", "h2", "cos_r")
    val cross = pairV
      .join(ids.select(col("vh").as("h1"), col("vec_id").as("i")), "h1")
      .join(ids.select(col("vh").as("h2"), col("vec_id").as("j")), "h2")
      .select(least(col("i"), col("j")).as("qid"),
        greatest(col("i"), col("j")).as("cid"), col("cos_r"))
    val same = reps
      .withColumn("cos_r",
        round(expr("vec_dot(v, v)") / (col("nrm") * col("nrm")), roundScale))
      .filter(col("cos_r") >= tau)
      .select(col("vh"), col("cos_r"))
      .join(ids.select(col("vh"), col("vec_id").as("i")), "vh")
      .join(ids.select(col("vh"), col("vec_id").as("j")), "vh")
      .filter(col("i") < col("j"))
      .select(col("i").as("qid"), col("j").as("cid"), col("cos_r"))
    cross.unionByName(same)
  }

  /** DuckDB oracle for nearDupPairs (same construction as annOracleSql). */
  def nearDupOracleSql(dims: Int, nBits: Int, nTables: Int, tau: Double,
      roundScale: Int): String = {
    def acc(tbl: String, i: Int) = s"CAST($tbl.embedding[$i] AS DOUBLE)"
    def sig(salt: Int): String = {
      val bits = (0 until nBits).map { p =>
        val terms = (1 to dims)
          .map(i => s"${acc("e", i)} * ${planeCoef(salt, p, i - 1)}")
          .mkString(" + ")
        s"CASE WHEN ($terms) >= 0 THEN '1' ELSE '0' END"
      }
      s"concat('$salt:', ${bits.mkString(", ")})"
    }
    val ebLegs = (0 until nTables)
      .map(t => s"SELECT e.vec_id, ${sig(t)} AS bucket FROM embeddings e")
      .mkString("\n UNION ALL\n ")
    val normChain = (1 to dims)
      .map(i => s"${acc("e", i)} * ${acc("e", i)}").mkString(" + ")
    val dotChain = (1 to dims)
      .map(i => s"${acc("a", i)} * ${acc("b", i)}").mkString(" + ")
    s"""WITH eb AS ($ebLegs),
        cand AS (
          SELECT DISTINCT x.vec_id AS qid, y.vec_id AS cid
          FROM eb x JOIN eb y ON x.bucket = y.bucket
          WHERE x.vec_id < y.vec_id),
        n AS (SELECT e.vec_id, sqrt($normChain) AS nrm FROM embeddings e)
        SELECT qid, cid,
               round(($dotChain) / (na.nrm * nb.nrm), $roundScale) AS cos_r
        FROM cand
        JOIN embeddings a ON a.vec_id = qid
        JOIN embeddings b ON b.vec_id = cid
        JOIN n na ON na.vec_id = qid
        JOIN n nb ON nb.vec_id = cid
        WHERE round(($dotChain) / (na.nrm * nb.nrm), $roundScale) >= $tau"""
  }

  /** IVF (inverted-file) ANN: a k-means coarse quantizer assigns every
    * vector to its nearest centroid; queries probe only the `nProbe`
    * closest centroid lists. The second classic scale path next to LSH:
    * candidate generation is a shuffle on centroid id, cost ∝ probed-list
    * sizes. Deterministic seed; centroids are a broadcast-sized dim.
    */
  /** Plain Lloyd's iterations over a driver-held sample (the IVF coarse
    * quantizer). Deterministic: first-k init, fixed iteration count; an
    * emptied cluster keeps its previous centroid. Every UPDATED centroid
    * coordinate is snapped to the 1e-6 grid via floor(mean·1e6 + 0.5)/1e6 —
    * pure IEEE double ops that the DuckDB oracle (ivfOracleSql) replays
    * bit-for-bit, so the accumulation-order noise of a SQL SUM (~1e-12)
    * vanishes below the grid and both engines learn IDENTICAL centroids.
    */
  private def lloyd(pts: Array[Array[Double]], k: Int,
      iters: Int): Array[Array[Double]] = {
    require(pts.nonEmpty, "ivfTopK: empty training sample")
    val dim = pts.head.length
    var cents = Array.tabulate(k)(i => pts(i % pts.length).clone())
    for (_ <- 1 to iters) {
      val sums = Array.fill(k)(new Array[Double](dim))
      val cnts = new Array[Int](k)
      pts.foreach { p =>
        var best = 0; var bestD = Double.MaxValue
        var j = 0
        while (j < k) {
          var d = 0.0; var i = 0
          while (i < dim) { val x = p(i) - cents(j)(i); d += x * x; i += 1 }
          if (d < bestD) { bestD = d; best = j }
          j += 1
        }
        var i = 0
        while (i < dim) { sums(best)(i) += p(i); i += 1 }
        cnts(best) += 1
      }
      cents = Array.tabulate(k) { j =>
        if (cnts(j) == 0) cents(j)
        else sums(j).map(x =>
          math.floor(x / cnts(j) * 1000000.0 + 0.5) / 1000000.0)
      }
    }
    cents
  }

  /** Shared quantizer front end — the SINGLE Scala home of the
    * cross-engine determinism protocol (mirrored in SQL by
    * lloydChainSql): bounded md5-of-id-ordered sample, first-k init,
    * fixed Lloyd's iterations with 1e-6 centroid snapping. Input frame
    * must carry (vec_id, v); returns the trained centroid matrix plus
    * the broadcastable literal columns (centroid array, per-centroid
    * ||c||²) the assignment fold reads.
    */
  private def trainedQuantizer(e: DataFrame, nLists: Int, iters: Int,
      samplePerList: Int): (Array[Array[Double]], Column, Column) = {
    val sample = e
      .select(col("v"), md5(col("vec_id").cast("string")).as("hx"),
        col("vec_id"))
      .orderBy("hx", "vec_id").limit(nLists * samplePerList)
      .collect().map(_.getSeq[Double](0).toArray)
    val cents = lloyd(sample, nLists, iters = iters)
    (cents, typedLit(cents.map(_.toSeq).toSeq),
      typedLit(cents.map(c => c.map(x => x * x).sum).toSeq))
  }

  /** Native argmin/argmax assignment against a driver-side codebook — the
    * graft.functions.PqCodes expression bridged into the Column API (the
    * FixedPointLong precedent). r16: this replaces the interpreted
    * `aggregate(sequence, ...)` fold (argminFold) whose per-(row, centroid)
    * lambda evaluation ran outside codegen — identical strict-< /
    * ascending-position tiebreaks, identical left-assoc keys, but one
    * fused codegen'd loop per row (see the PqCodes scaladoc).
    */
  private def pqCodesCol(v: Column, cb: Array[Array[Array[Double]]],
      useL2: Boolean): Column =
    org.apache.spark.sql.GraftColumnBridge.column(
      graft.functions.PqCodes(
        org.apache.spark.sql.GraftColumnBridge.expression(v), cb, useL2))

  /** The argmin-L2 list assignment over learned centroids, as a narrow
    * codegen'd column: position of min(‖c‖² − 2·v·c) in ascending
    * centroid order (ties → lowest list id, matching the SQL row_number
    * ORDER BY d, c_id).
    */
  private def argminL2(v: Column, cents: Array[Array[Double]]): Column =
    pqCodesCol(v, Array(cents), useL2 = true).getItem(0)

  def ivfTopK(embeddings: DataFrame, queryPred: org.apache.spark.sql.Column,
      nLists: Int = 16, nProbe: Int = 3, k: Int = 5,
      roundScale: Int = -1): DataFrame = {
    val e = embeddings.select(col("vec_id"),
        expr("transform(embedding, x -> CAST(x AS DOUBLE))").as("v"))
      .withColumn("nrm", expr("sqrt(vec_dot(v, v))"))
      .mat() // eager: sample, assignment and scoring read it
    // FAISS-style quantizer training: Lloyd's on a BOUNDED sample (≤64
    // vectors per list), driver-side. The sample size is independent of
    // |data|, so the 100 TB path trains identically — only assignment and
    // scoring scan the full table, and assignment is a narrow map against
    // broadcast literal centroids (no ML pipeline, no extra jobs).
    // Deterministic: hash-ordered sample (md5 of the id string — a hash
    // both engines compute identically, so the oracle replays the exact
    // same sample in the exact same order), first-k init, fixed iterations.
    val (cents, _, _) = trainedQuantizer(e, nLists, iters = 8,
      samplePerList = 64)
    val spark = embeddings.sparkSession
    import spark.implicits._
    // full-table assignment: argmin Euclidean distance over the codebook,
    // one native codegen'd loop per row (r16: was the interpreted
    // argminFold) — ||v−c||² ordering equals (||c||² − 2·v·c) ordering,
    // ||v||² being row-constant
    val assigned = e.withColumn("list_id", argminL2(col("v"), cents))
    // each query ranks the (tiny, broadcast) centroid dim and probes nProbe
    val cdf = cents.zipWithIndex.map { case (c, i) => (i, c.toSeq) }.toSeq
      .toDF("c_id", "c_vec")
    val q = assigned.filter(queryPred)
      .select(col("vec_id").as("qid"), col("v").as("qv"), col("nrm").as("qn"))
    val probes = q.crossJoin(broadcast(cdf))
      .withColumn("d2", expr("aggregate(zip_with(qv, c_vec, (a, b) -> (a - b) * (a - b)), 0D, (s, x) -> s + x)"))
      .withColumn("rnk", row_number().over(
        Window.partitionBy("qid").orderBy(col("d2").asc, col("c_id"))))
      .filter(col("rnk") <= nProbe)
      .select(col("qid"), col("qv"), col("qn"), col("c_id").as("list_id"))
    val c = assigned.select(col("vec_id").as("cid"), col("v").as("cv"),
      col("nrm").as("cn"), col("list_id"))
    val rawCos = expr("vec_dot(qv, cv)") / (col("qn") * col("cn"))
    val cosCol = if (roundScale >= 0) round(rawCos, roundScale) else rawCos
    val cosName = if (roundScale >= 0) "cos_r" else "cos"
    val scored = probes.join(c, Seq("list_id")) // shuffle on centroid list
      .filter(col("qid") =!= col("cid"))
      .dropDuplicates("qid", "cid")
      .withColumn(cosName, cosCol)
    val w = Window.partitionBy("qid").orderBy(col(cosName).desc, col("cid"))
    scored.withColumn("rn", row_number().over(w)).filter(col("rn") <= k)
      .select(col("qid"), col("cid"), col(cosName),
        col("rn").cast(org.apache.spark.sql.types.IntegerType).as("rn"))
  }

  /** DuckDB oracle for ivfTopK with the LEARNED quantizer — the 8 Lloyd's
    * iterations over the bounded md5-ordered sample unrolled as chained
    * CTEs (argmin assignment + per-cluster mean per iteration). The cross-
    * engine determinism protocol matches `lloyd` exactly: (a) the sample
    * order is md5(vec_id-as-string) — both engines produce the same hex;
    * (b) updated centroid coordinates snap to the 1e-6 grid with
    * floor(mean·1e6 + 0.5)/1e6, so SUM accumulation-order noise (~1e-12)
    * cannot diverge the engines; (c) all distance/dot chains are generated
    * left-associated in dim order, the same accumulation the Scala loops
    * and vec_dot perform. Assignment ties break to the lowest centroid id
    * in both (strict-< fold vs row_number ORDER BY d, c_id).
    */
  /** Index helper shared by the quantizer-SQL generators. */
  private def emb(tbl: String, i: Int) = s"CAST($tbl.embedding[$i] AS DOUBLE)"

  /** The sample → init → unrolled-Lloyd's CTE chain (pts, c0, a1..cN)
    * shared by ivfOracleSql and kmeansProfileSql; the final centroid CTE
    * is named c&lt;iters&gt;. Emitted WITHOUT the leading WITH.
    */
  private def lloydChainSql(dims: Int, nLists: Int, iters: Int,
      cap: Int): String = {
    val d2Chain = (1 to dims)
      .map(i => s"(${emb("p", i)} - c.cv[$i]) * (${emb("p", i)} - c.cv[$i])")
      .mkString(" + ")
    val initList = (1 to dims).map(i => emb("pts", i)).mkString(", ")
    val sumCols = (1 to dims).map(i => s"SUM(${emb("p", i)}) AS s$i")
      .mkString(", ")
    val meanList = (1 to dims)
      .map(i => s"floor(m.s$i / m.n * 1000000.0 + 0.5) / 1000000.0")
      .mkString(", ")
    val iterCtes = (1 to iters).map { t =>
      val prev = s"c${t - 1}"
      // AS MATERIALIZED is load-bearing: each c$t is referenced twice (the
      // next assignment and the empty-cluster fallback), so DuckDB's
      // default CTE inlining would expand the chain 2^iters-fold
      s"""a$t AS (
            SELECT p.rk, c.c_id,
                   row_number() OVER (PARTITION BY p.rk
                                      ORDER BY ($d2Chain) ASC, c.c_id) AS rn
            FROM pts p, $prev c),
          m$t AS (
            SELECT a.c_id, COUNT(*) AS n, $sumCols
            FROM a$t a JOIN pts p ON p.rk = a.rk
            WHERE a.rn = 1 GROUP BY a.c_id),
          c$t AS MATERIALIZED (
            SELECT pc.c_id,
                   CASE WHEN m.c_id IS NULL THEN pc.cv
                        ELSE list_value($meanList) END AS cv
            FROM $prev pc LEFT JOIN m$t m ON m.c_id = pc.c_id)"""
    }.mkString(",\n        ")
    s"""pts AS MATERIALIZED (
          SELECT row_number() OVER (ORDER BY md5(CAST(vec_id AS VARCHAR)),
                                    vec_id) AS rk,
                 embedding
          FROM (SELECT vec_id, embedding FROM embeddings
                ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id
                LIMIT $cap) s),
        c0 AS MATERIALIZED (
          -- wrap-around init mirrors the Scala pts(i % pts.length): with a
          -- sample smaller than nLists, centroids recycle sample points
          -- instead of silently dropping clusters
          SELECT g.c_id, list_value($initList) AS cv
          FROM generate_series(0, ${nLists - 1}) g(c_id)
          JOIN pts ON pts.rk = (g.c_id % (SELECT COUNT(*) FROM pts)) + 1),
        $iterCtes"""
  }

  def ivfOracleSql(dims: Int, nLists: Int, nProbe: Int, k: Int,
      roundScale: Int, queryIdBound: Int = 10, iters: Int = 8,
      samplePerList: Int = 64): String = {
    val cap = nLists * samplePerList
    val cF = s"c$iters"
    // full-table assignment: the same ||c||² − 2·v·c ordering (||v||² is
    // row-constant) the Spark fold evaluates, inlined as chains over the
    // final centroids
    val cn2Chain = (1 to dims).map(i => s"c.cv[$i] * c.cv[$i]")
      .mkString(" + ")
    val assignDot = (1 to dims).map(i => s"${emb("e", i)} * c.cv[$i]")
      .mkString(" + ")
    val probeD2 = (1 to dims)
      .map(i => s"(${emb("e", i)} - c.cv[$i]) * (${emb("e", i)} - c.cv[$i])")
      .mkString(" + ")
    val normChain = (1 to dims)
      .map(i => s"${emb("e", i)} * ${emb("e", i)}").mkString(" + ")
    val dotChain = (1 to dims)
      .map(i => s"${emb("a", i)} * ${emb("b", i)}").mkString(" + ")
    s"""WITH ${lloydChainSql(dims, nLists, iters, cap)},
        asg AS (
          SELECT vec_id, c_id AS list_id FROM (
            SELECT e.vec_id, c.c_id,
                   row_number() OVER (PARTITION BY e.vec_id
                      ORDER BY (($cn2Chain) - 2 * ($assignDot)) ASC,
                               c.c_id) AS rnk
            FROM embeddings e, $cF c) t
          WHERE rnk = 1),
        probes AS (
          SELECT vec_id AS qid, c_id AS list_id FROM (
            SELECT e.vec_id, c.c_id,
                   row_number() OVER (PARTITION BY e.vec_id
                      ORDER BY ($probeD2) ASC, c.c_id) AS rnk
            FROM embeddings e, $cF c
            WHERE e.vec_id < $queryIdBound) t
          WHERE rnk <= $nProbe),
        n AS (SELECT e.vec_id, sqrt($normChain) AS nrm FROM embeddings e),
        cand AS (
          SELECT p.qid, a.vec_id AS cid
          FROM probes p JOIN asg a
            ON a.list_id = p.list_id AND a.vec_id <> p.qid),
        scored AS (
          SELECT qid, cid,
                 round(($dotChain) / (na.nrm * nb.nrm), $roundScale) AS cos_r
          FROM cand
          JOIN embeddings a ON a.vec_id = qid
          JOIN embeddings b ON b.vec_id = cid
          JOIN n na ON na.vec_id = qid
          JOIN n nb ON nb.vec_id = cid)
        SELECT qid, cid, cos_r, CAST(rn AS INTEGER) AS rn
        FROM (SELECT qid, cid, cos_r,
                     row_number() OVER (PARTITION BY qid
                                        ORDER BY cos_r DESC, cid) AS rn
              FROM scored) t
        WHERE rn <= $k"""
  }

  /** K-MEANS cluster profile — the corpus/domain-discovery surface of the
    * IVF quantizer: train the SAME bounded-sample Lloyd's quantizer
    * (md5-ordered ≤nLists×64 sample, 8 fixed iterations, 1e-6 centroid
    * snapping — the cross-engine protocol ivfOracleSql documents), assign
    * every vector in one narrow map against broadcast literal centroids,
    * and publish per-cluster size and mean squared distance (inertia per
    * member). At 100 TB: training is driver-bounded and data-size-
    * independent, assignment is a map over the scan, and the only
    * aggregation lands on ≤nLists rows — per-group sums run on exact
    * micro-snapped longs (the dsum2 long-cents precedent) so the mean is
    * accumulation-order-independent in both engines.
    */
  def kmeansProfile(embeddings: DataFrame, nLists: Int = 8,
      iters: Int = 8, samplePerList: Int = 64): DataFrame = {
    val e = embeddings.select(col("vec_id"),
        expr("transform(embedding, x -> CAST(x AS DOUBLE))").as("v"))
      .withColumn("nrm2", expr("vec_dot(v, v)"))
      .mat() // eager: the sample and the profile pass read it
    val (cents, cl, cn2) = trainedQuantizer(e, nLists, iters, samplePerList)
    // native argmin assignment (r16: was the interpreted argminFold), then
    // the winning key re-derived by the SAME expression the fold computed
    // — cn2[i] − 2·vec_dot(v, cl[i]) over the identical literal arrays, so
    // the value is bit-identical — via one literal lookup at the winning
    // position
    e.withColumn("i", argminL2(col("v"), cents))
      .withColumn("cl", cl).withColumn("cn2", cn2)
      .withColumn("d", expr("cn2[i] - 2D * vec_dot(v, cl[i])"))
      // d2 = (||c||² − 2·v·c) + ||v||², micro-snapped to an exact long
      .select(col("i").as("list_id"),
        expr("CAST(floor((d + nrm2) * 1000000.0 + 0.5) AS BIGINT)")
          .as("d2u"))
      .groupBy("list_id")
      .agg(count(lit(1)).as("n_vecs"),
        round(sum(col("d2u")) / count(lit(1)) / lit(1000000.0), 6)
          .as("mean_d2_r"))
  }

  /** DuckDB oracle for kmeansProfile: the shared unrolled-Lloyd's chain,
    * then the assignment subquery keeps the winning distance and the
    * per-cluster mean runs on the same micro-snapped longs.
    */
  def kmeansProfileSql(dims: Int, nLists: Int, iters: Int = 8,
      samplePerList: Int = 64): String = {
    val cap = nLists * samplePerList
    val cn2Chain = (1 to dims).map(i => s"c.cv[$i] * c.cv[$i]")
      .mkString(" + ")
    val assignDot = (1 to dims).map(i => s"${emb("e", i)} * c.cv[$i]")
      .mkString(" + ")
    val normChain = (1 to dims)
      .map(i => s"${emb("e", i)} * ${emb("e", i)}").mkString(" + ")
    s"""WITH ${lloydChainSql(dims, nLists, iters, cap)},
        asg AS (
          SELECT vec_id, c_id, d2 FROM (
            SELECT e.vec_id, c.c_id,
                   (($cn2Chain) - 2 * ($assignDot) + ($normChain)) AS d2,
                   row_number() OVER (PARTITION BY e.vec_id
                      ORDER BY (($cn2Chain) - 2 * ($assignDot)) ASC,
                               c.c_id) AS rnk
            FROM embeddings e, c$iters c) t
          WHERE rnk = 1)
        SELECT CAST(c_id AS INTEGER) AS list_id, count(*) AS n_vecs,
               round(SUM(CAST(floor(d2 * 1000000.0 + 0.5) AS BIGINT))
                     / count(*) / 1000000.0, 6) AS mean_d2_r
        FROM asg GROUP BY 1"""
  }

  /** SemDeDup (Abbas et al. 2023): semantic near-dup PAIRS bounded by the
    * k-means cluster assignment — candidates are generated only WITHIN a
    * cluster, never across, so the quadratic term is bounded by the
    * largest cluster, not the corpus. Same trained quantizer and
    * narrow-map assignment as kmeansProfile; the self-join shuffles id+
    * vector rows once on list_id. At 100 TB the knob is nLists: real
    * SemDeDup runs ~10⁵ clusters so each cluster holds ~10³ vectors —
    * pair generation stays ∝ Σ|cluster|², and a skewed cluster is split
    * by the salting pattern transform/Skew.scala establishes. The fixture
    * keeps nLists=8 to share the proven cross-engine Lloyd's protocol.
    */
  /** The distinct-vector representative frame with its cluster assignment,
    * UN-materialized — semDedupPairs mats exactly this frame. Factored out
    * so the assignment stage's physical plan (the native `pqcodes` argmin,
    * in since r16) is dumpable via Profile's dev_semdedup_assign hook and
    * pinnable in PlanAuditSpec: the declared row's own dump cannot show it
    * because the mat() truncates lineage to Scan ExistingRDD.
    */
  private[graft] def semDedupReps(e: DataFrame,
      cents: Array[Array[Double]]): DataFrame =
    e.withColumn("vh", md5(col("v").cast(StringType)))
      .groupBy(col("vh"))
      .agg(min(struct(col("vec_id"), col("v"))).as("r"))
      .select(col("vh"), col("r.vec_id").as("rid"), col("r.v").as("v"))
      .withColumn("nrm", expr("sqrt(vec_dot(v, v))"))
      .withColumn("list_id", argminL2(col("v"), cents))

  /** Dev/evidence-only (graft.Profile, PlanAuditSpec): the un-mat'd
    * learned-quantizer assignment frame llm_semdedup materializes. Never
    * in Bench/Verify.
    */
  def semDedupAssignFrame(embeddings: DataFrame, nLists: Int = 8,
      iters: Int = 8, samplePerList: Int = 64): DataFrame = {
    val e = embeddings.select(col("vec_id"),
        expr("transform(embedding, x -> CAST(x AS DOUBLE))").as("v"))
      .withColumn("nrm", expr("sqrt(vec_dot(v, v))"))
      .mat()
    val (cents, _, _) = trainedQuantizer(e, nLists, iters, samplePerList)
    semDedupReps(e, cents)
  }

  def semDedupPairs(embeddings: DataFrame, nLists: Int = 8, tau: Double,
      roundScale: Int, iters: Int = 8, samplePerList: Int = 64): DataFrame = {
    val e = embeddings.select(col("vec_id"),
        expr("transform(embedding, x -> CAST(x AS DOUBLE))").as("v"))
      .withColumn("nrm", expr("sqrt(vec_dot(v, v))"))
      .mat() // eager: the sample and the assignment read it
    val (cents, _, _) = trainedQuantizer(e, nLists, iters, samplePerList)
    // DISTINCT-VECTOR grain (r14, the sf10 finding): identical vectors
    // land in the same cluster (assignment is a pure function of v), so
    // the within-cluster self-join at ID grain pays multiplicity² cosine
    // evaluations for pairs whose score is decided once per distinct
    // value pair. Training stays on the FULL table (the oracle's Lloyd
    // chain samples the full id space); assignment + join + cosine run
    // per distinct vector, then two bounded equi-joins expand to the
    // id-pair contract. Same-vector pairs score round(dot/(nrm·nrm)) —
    // the identical IEEE expression the oracle evaluates for those ids.
    val eh = e.withColumn("vh", md5(col("v").cast(StringType)))
    val ids = eh.select(col("vec_id"), col("vh")).mat()
    val reps = semDedupReps(e, cents).mat()
    val cosR = round(expr("vec_dot(a.v, b.v)")
      / (col("a.nrm") * col("b.nrm")), roundScale)
    val pairV = reps.as("a").join(reps.as("b"),
        col("a.list_id") === col("b.list_id") &&
          col("a.rid") < col("b.rid"))
      .withColumn("cos_r", cosR)
      .filter(col("cos_r") >= tau)
      .select(col("a.vh").as("h1"), col("b.vh").as("h2"), col("cos_r"),
        col("a.list_id").cast(org.apache.spark.sql.types.IntegerType)
          .as("list_id"))
    val cross = pairV
      .join(ids.select(col("vh").as("h1"), col("vec_id").as("i")), "h1")
      .join(ids.select(col("vh").as("h2"), col("vec_id").as("j")), "h2")
      .select(least(col("i"), col("j")).as("d1"),
        greatest(col("i"), col("j")).as("d2"), col("cos_r"), col("list_id"))
    val same = reps
      .withColumn("cos_r",
        round(expr("vec_dot(v, v)") / (col("nrm") * col("nrm")), roundScale))
      .filter(col("cos_r") >= tau)
      .select(col("vh"), col("cos_r"),
        col("list_id").cast(org.apache.spark.sql.types.IntegerType)
          .as("list_id"))
      .join(ids.select(col("vh"), col("vec_id").as("i")), "vh")
      .join(ids.select(col("vh"), col("vec_id").as("j")), "vh")
      .filter(col("i") < col("j"))
      .select(col("i").as("d1"), col("j").as("d2"), col("cos_r"),
        col("list_id"))
    cross.unionByName(same)
  }

  /** DuckDB oracle for semDedupPairs: shared Lloyd's chain, assignment,
    * within-cluster self-join, the same rounded cosine.
    */
  def semDedupPairsSql(dims: Int, nLists: Int, tau: Double,
      roundScale: Int, iters: Int = 8, samplePerList: Int = 64): String = {
    val cap = nLists * samplePerList
    val cn2Chain = (1 to dims).map(i => s"c.cv[$i] * c.cv[$i]")
      .mkString(" + ")
    val assignDot = (1 to dims).map(i => s"${emb("e", i)} * c.cv[$i]")
      .mkString(" + ")
    val normChain = (1 to dims)
      .map(i => s"${emb("e", i)} * ${emb("e", i)}").mkString(" + ")
    val dotChain = (1 to dims)
      .map(i => s"${emb("a", i)} * ${emb("b", i)}").mkString(" + ")
    s"""WITH ${lloydChainSql(dims, nLists, iters, cap)},
        asg AS (
          SELECT vec_id, c_id FROM (
            SELECT e.vec_id, c.c_id,
                   row_number() OVER (PARTITION BY e.vec_id
                      ORDER BY (($cn2Chain) - 2 * ($assignDot)) ASC,
                               c.c_id) AS rnk
            FROM embeddings e, c$iters c) t
          WHERE rnk = 1),
        n AS (SELECT e.vec_id, sqrt($normChain) AS nrm FROM embeddings e),
        cand AS (
          SELECT a.vec_id AS d1, b.vec_id AS d2, a.c_id
          FROM asg a JOIN asg b
            ON a.c_id = b.c_id AND a.vec_id < b.vec_id)
        SELECT d1, d2, cos_r, CAST(c_id AS INTEGER) AS list_id
        FROM (SELECT cand.d1, cand.d2, cand.c_id,
                     round(($dotChain) / (na.nrm * nb.nrm), $roundScale)
                       AS cos_r
              FROM cand
              JOIN embeddings a ON a.vec_id = cand.d1
              JOIN embeddings b ON b.vec_id = cand.d2
              JOIN n na ON na.vec_id = cand.d1
              JOIN n nb ON nb.vec_id = cand.d2) t
        WHERE cos_r >= $tau"""
  }

  /** IVF with FIXED deterministic centroids (the embeddings of
    * vec_id < nCentroids): the same assign → probe → rank pipeline as
    * ivfTopK, but with a quantizer both engines can compute — giving the
    * IVF *shape* (argmax assignment, nProbe list probing, in-list top-k) a
    * full hash-checked DuckDB oracle. The learned-centroid variant keeps
    * its recall-vs-brute-force test; this one proves the pipeline.
    */
  /** The normalized embedding frame every ANN/brute arm starts from:
    * (vec_id, v: array<double>, nrm). Exposed so a composite row (the
    * recall measurements run an exact arm AND an approximate arm over the
    * SAME table) can materialize it once and share it — without sharing,
    * each arm re-scans the corpus and re-derives the transform+norm pass
    * (guide §1.2: don't compute things twice).
    */
  def normalized(embeddings: DataFrame): DataFrame =
    embeddings.select(col("vec_id"),
        expr("transform(embedding, x -> CAST(x AS DOUBLE))").as("v"))
      .withColumn("nrm", expr("sqrt(vec_dot(v, v))"))

  /** Bounded fixed-quantizer collect: the (vec_id, v) rows with
    * `vec_id < bound` — bound is a single-digit query constant
    * (nCentroids / ksub), so the collect size is independent of |data|,
    * the same boundedness class as trainedQuantizer's md5-ordered sample.
    * Sorted by vec_id so position order == c_id order (the tiebreak the
    * fixed oracles rank by).
    */
  private def collectFixed(e: DataFrame,
      bound: Int): (Array[Long], Array[Array[Double]]) = {
    val rows = e.filter(col("vec_id") < bound)
      .select(col("vec_id"), col("v")).orderBy("vec_id").limit(bound)
      .collect()
    (rows.map(_.getLong(0)), rows.map(_.getSeq[Double](1).toArray))
  }

  /** Narrow argmax-dot assignment over the collected centroid set — the
    * native PqCodes loop under the dot metric: rank 1 of (vec_dot DESC,
    * c_id ASC) equals strict argmin of −2·dot in ascending position order
    * (×−2 is exact and order-reversing on doubles, ties preserved).
    * Returns the winning POSITION (0-based into the sorted centroid set).
    */
  private def argmaxDot(v: Column, cents: Array[Array[Double]]): Column =
    pqCodesCol(v, Array(cents), useL2 = false).getItem(0)

  def ivfTopKFixed(embeddings: DataFrame, queryPred: org.apache.spark.sql.Column,
      nCentroids: Int, nProbe: Int, k: Int, roundScale: Int,
      ePre: Option[DataFrame] = None): DataFrame = {
    // feeds the centroid collect, the query side and the candidate side;
    // a caller that already materialized the normalized frame (the recall
    // composition) passes it in instead of re-deriving it
    val e = ePre.getOrElse(normalized(embeddings).mat())
    val spark = e.sparkSession
    import spark.implicits._
    // r16: the fixed centroid set is BOUNDED by construction (vec_id <
    // nCentroids, a single-digit constant), so collect it once and assign
    // lists with a narrow fold over the literal array — the r8-r15 shape
    // (crossJoin ×nCentroids + full-table Window rank) paid an Exchange +
    // Sort over the whole corpus to pick each row's max dot product. The
    // learned arm (ivfTopK) has used the literal-fold assignment since r8;
    // this ports it, keeping rank-1 tiebreaks identical (strict-> fold in
    // ascending c_id order == row_number over (cd DESC, c_id ASC)).
    val (cids, cents) = collectFixed(e, nCentroids)
    if (cents.isEmpty) {
      // no centroid rows → every stage below is empty; preserve the shape
      return e.filter(lit(false))
        .select(col("vec_id").as("qid"), col("vec_id").as("cid"),
          lit(0.0).as("cos_r"),
          lit(0).cast(org.apache.spark.sql.types.IntegerType).as("rn"))
    }
    val assigned = e
      .withColumn("pos", argmaxDot(col("v"), cents))
      .withColumn("list_id",
        element_at(typedLit(cids.toSeq), col("pos") + 1))
      .select(col("vec_id"), col("v"), col("nrm"), col("list_id"))
    // per-QUERY probe ranking only (the bounded query set × nCentroids —
    // tiny), instead of ranking every corpus row and filtering after
    val cdf = cids.zip(cents).map { case (i, c) => (i, c.toSeq) }.toSeq
      .toDF("c_id", "cv")
    val probes = e.filter(queryPred)
      .crossJoin(broadcast(cdf))
      .withColumn("cd", expr("vec_dot(v, cv)"))
      .withColumn("rnk", row_number().over(
        Window.partitionBy("vec_id").orderBy(col("cd").desc, col("c_id"))))
      .filter(col("rnk") <= nProbe)
      .select(col("vec_id").as("qid"), col("v").as("qv"),
        col("nrm").as("qn"), col("c_id").as("list_id"))
    val c = assigned.select(col("vec_id").as("cid"), col("v").as("cv2"),
      col("nrm").as("cn"), col("list_id"))
    val scored = probes.join(c, Seq("list_id")) // shuffle on list id
      .filter(col("qid") =!= col("cid"))
      .withColumn("cos_r",
        round(expr("vec_dot(qv, cv2)") / (col("qn") * col("cn")), roundScale))
    val w = Window.partitionBy("qid").orderBy(col("cos_r").desc, col("cid"))
    scored.withColumn("rn", row_number().over(w)).filter(col("rn") <= k)
      .select(col("qid"), col("cid"), col("cos_r"),
        col("rn").cast(org.apache.spark.sql.types.IntegerType).as("rn"))
  }

  /** DuckDB oracle for ivfTopKFixed — same centroid set, same assignment
    * tiebreaks, same left-associated IEEE dot chains as annOracleSql.
    */
  def ivfFixedOracleSql(dims: Int, nCentroids: Int, nProbe: Int, k: Int,
      roundScale: Int, queryIdBound: Int = 10): String = {
    def acc(tbl: String, i: Int) = s"CAST($tbl.embedding[$i] AS DOUBLE)"
    val assignChain = (1 to dims)
      .map(i => s"${acc("e", i)} * CAST(c.cv[$i] AS DOUBLE)").mkString(" + ")
    val normChain = (1 to dims)
      .map(i => s"${acc("e", i)} * ${acc("e", i)}").mkString(" + ")
    val dotChain = (1 to dims)
      .map(i => s"${acc("a", i)} * ${acc("b", i)}").mkString(" + ")
    s"""WITH cent AS (SELECT vec_id AS c_id, embedding AS cv
                      FROM embeddings WHERE vec_id < $nCentroids),
        ranked AS (
          SELECT e.vec_id, c.c_id,
                 row_number() OVER (PARTITION BY e.vec_id
                                    ORDER BY ($assignChain) DESC, c.c_id) AS rnk
          FROM embeddings e, cent c),
        assign AS (SELECT vec_id, c_id AS list_id FROM ranked WHERE rnk = 1),
        probes AS (SELECT vec_id AS qid, c_id AS list_id
                   FROM ranked WHERE vec_id < $queryIdBound AND rnk <= $nProbe),
        n AS (SELECT e.vec_id, sqrt($normChain) AS nrm FROM embeddings e),
        cand AS (
          SELECT p.qid, a.vec_id AS cid
          FROM probes p JOIN assign a
            ON a.list_id = p.list_id AND a.vec_id <> p.qid),
        scored AS (
          SELECT qid, cid,
                 round(($dotChain) / (na.nrm * nb.nrm), $roundScale) AS cos_r
          FROM cand
          JOIN embeddings a ON a.vec_id = qid
          JOIN embeddings b ON b.vec_id = cid
          JOIN n na ON na.vec_id = qid
          JOIN n nb ON nb.vec_id = cid)
        SELECT qid, cid, cos_r, CAST(rn AS INTEGER) AS rn
        FROM (SELECT qid, cid, cos_r,
                     row_number() OVER (PARTITION BY qid
                                        ORDER BY cos_r DESC, cid) AS rn
              FROM scored) t
        WHERE rn <= $k"""
  }

  /** Product-quantization ANN (the FAISS ADC shape): vectors are encoded
    * as `m` sub-codes (argmin-L2 against a per-subspace codebook), queries
    * score candidates in the COMPRESSED domain — est(q,x) = Σ_j q_subj ·
    * codebook_j[code_x(j)] — and only a `shortlist`-sized prefix is
    * re-ranked with the exact cosine. The 100 TB story is the memory cut:
    * the ADC scan touches m bytes per vector instead of dims·4, which is
    * what makes an exhaustive per-list scan feasible after IVF pruning
    * (compose with ivfTopK's list assignment for IVF-PQ).
    *
    * FIXED deterministic codebooks (the subvectors of the embeddings of
    * `vec_id < ksub`) so every stage — encode, ADC estimate, shortlist,
    * refine — is DuckDB-computable and the whole pipeline gets a full
    * hash-checked oracle, exactly the ivfTopKFixed precedent. The two
    * broadcast cross joins (codebook into encode, queries into the ADC
    * scan) are intentional tiny-side broadcasts, same as IVF's centroid
    * probe.
    */
  /** Narrow per-row PQ encode over the collected codebook: for each
    * subspace j, the native PqCodes argmin over the ksub codebook rows by
    * the expanded key ‖c_j‖² − 2·v_j·c_j (the dropped ‖v_j‖² is constant
    * per (vector, subspace)); strict-< in ascending c_id order == the old
    * hash-agg min(struct(key, c_id)) including tiebreaks. Returns
    * array[m] of winning POSITIONS. r16: the r8-r15 encode exploded every
    * vector ×m, joined the broadcast codebook and hash-aggregated the
    * argmin — a full-corpus Exchange of m rows per vector that this
    * narrow map removes outright (the codebook is bounded by
    * construction: vec_id < ksub).
    */
  private def pqEncode(v: Column, cents: Array[Array[Double]], m: Int,
      sub: Int): Column =
    pqCodesCol(v,
      (0 until m).map(j =>
        cents.map(c => c.slice(j * sub, (j + 1) * sub))).toArray,
      useL2 = true)

  def pqTopKFixed(embeddings: DataFrame, queryPred: org.apache.spark.sql.Column,
      dims: Int, m: Int, ksub: Int, shortlist: Int, k: Int,
      roundScale: Int): DataFrame = {
    val sub = dims / m
    require(sub * m == dims, s"dims $dims not divisible into $m subspaces")
    val e = normalized(embeddings)
      .mat() // feeds codebook, encode, ADC and refine
    val spark = e.sparkSession
    import spark.implicits._
    // r16: the codebook is BOUNDED by construction (vec_id < ksub), so
    // collect it once and encode with a narrow per-row native map
    // (pqEncode) — the old explode ×m + broadcast join + hash-agg argmin
    // paid a full-corpus Exchange of m rows per vector plus a
    // localCheckpoint of the codes. Keys, argmin order and c_id tiebreaks
    // are unchanged (see pqEncode), so codes match bit-for-bit.
    val (pids, pcents) = collectFixed(e, ksub)
    if (pcents.isEmpty) {
      return e.filter(lit(false))
        .select(col("vec_id").as("qid"), col("vec_id").as("cid"),
          lit(0.0).as("cos_r"),
          lit(0).cast(org.apache.spark.sql.types.IntegerType).as("rn"))
    }
    // codes as POSITIONS into the sorted codebook (positions and c_ids
    // rank identically — collectFixed sorts by vec_id); the LUT below is
    // keyed the same way, so the join semantics are unchanged
    val coded = e.select(col("vec_id"), col("v"))
      .withColumn("codes", pqEncode(col("v"), pcents, m, sub))
      .select(col("vec_id"), posexplode(col("codes")).as(Seq("j", "code")))
    val q = e.filter(queryPred)
      .select(col("vec_id").as("qid"), col("v").as("qv"), col("nrm").as("qn"))
    // ADC LOOKUP TABLE (the textbook formulation): the per-(query,
    // subspace, code) partial dots are computed ONCE — |q|·m·ksub rows, a
    // broadcast-sized frame — and the compressed-domain scan just joins
    // codes to the table. The scan itself never touches a vector array or
    // evaluates a dot product again: per pair it reads m precomputed
    // doubles, which is what makes the m-bytes-per-vector scan real.
    val cdf = pids.zip(pcents).zipWithIndex
      .map { case ((_, c), pos) => (pos, c.toSeq) }.toSeq
      .toDF("cpos", "cv")
    val lut = q.select(col("qid"), col("qv"))
      .crossJoin(broadcast(cdf))
      .withColumn("j", explode(sequence(lit(0), lit(m - 1))))
      .withColumn("pd", expr(
        s"vec_dot(slice(qv, j * $sub + 1, $sub), slice(cv, j * $sub + 1, $sub))"))
      .select(col("qid"), col("j"), col("cpos").as("code"), col("pd"))
    val est = coded
      .join(broadcast(lut), Seq("j", "code"))
      .filter(col("vec_id") =!= col("qid"))
      .groupBy(col("qid"), col("vec_id").as("cid"))
      .agg(round(sum(col("pd")), roundScale).as("est_r"))
    val ws = Window.partitionBy("qid").orderBy(col("est_r").desc, col("cid"))
    val short = est.withColumn("srnk", row_number().over(ws))
      .filter(col("srnk") <= shortlist)
      .select("qid", "cid")
    // REFINE: exact cosine on the shortlist only
    val scored = short
      .join(e.select(col("vec_id").as("qid"), col("v").as("qv"),
        col("nrm").as("qn")), "qid")
      .join(e.select(col("vec_id").as("cid"), col("v").as("cv2"),
        col("nrm").as("cn")), "cid")
      .withColumn("cos_r",
        round(expr("vec_dot(qv, cv2)") / (col("qn") * col("cn")), roundScale))
    val w = Window.partitionBy("qid").orderBy(col("cos_r").desc, col("cid"))
    scored.withColumn("rn", row_number().over(w)).filter(col("rn") <= k)
      .select(col("qid"), col("cid"), col("cos_r"),
        col("rn").cast(org.apache.spark.sql.types.IntegerType).as("rn"))
  }

  /** DuckDB oracle for pqTopKFixed — same codebooks, same left-associated
    * subspace chains, same rounded-estimate shortlist and tiebreaks.
    */
  def pqFixedOracleSql(dims: Int, m: Int, ksub: Int, shortlist: Int, k: Int,
      roundScale: Int, queryIdBound: Int = 10): String = {
    val sub = dims / m
    def acc(tbl: String, i: String) = s"CAST($tbl.embedding[$i] AS DOUBLE)"
    def cacc(i: String) = s"CAST(c.cv[$i] AS DOUBLE)"
    // per-subspace chains with j a COLUMN: index expressions j*sub + i.
    // The encode key is the expanded ‖c_j‖² − 2·v_j·c_j, the same formula
    // (and the same left-assoc chains) the Spark side ranks by.
    val keyChain = {
      val nc2 = (1 to sub).map { i =>
        val ix = s"j * $sub + $i"; s"${cacc(ix)} * ${cacc(ix)}"
      }.mkString(" + ")
      val dj = (1 to sub).map { i =>
        val ix = s"j * $sub + $i"; s"${acc("e", ix)} * ${cacc(ix)}"
      }.mkString(" + ")
      s"($nc2) - 2 * ($dj)"
    }
    val pdChain = (1 to sub).map { i =>
      val ix = s"j * $sub + $i"
      s"${acc("q", ix)} * ${cacc(ix)}"
    }.mkString(" + ")
    val normChain = (1 to dims)
      .map(i => s"${acc("e", i.toString)} * ${acc("e", i.toString)}")
      .mkString(" + ")
    val dotChain = (1 to dims)
      .map(i => s"${acc("a", i.toString)} * ${acc("b", i.toString)}")
      .mkString(" + ")
    s"""WITH cent AS (SELECT vec_id AS c_id, embedding AS cv
                      FROM embeddings WHERE vec_id < $ksub),
        coded AS (
          SELECT vec_id, j, c_id AS code FROM (
            SELECT e.vec_id, g.j, c.c_id,
                   row_number() OVER (PARTITION BY e.vec_id, g.j
                                      ORDER BY ($keyChain) ASC, c.c_id) AS rnk
            FROM embeddings e, generate_series(0, ${m - 1}) g(j), cent c) t
          WHERE rnk = 1),
        est AS (
          SELECT q.vec_id AS qid, cd.vec_id AS cid,
                 round(SUM($pdChain), $roundScale) AS est_r
          FROM coded cd
          JOIN cent c ON c.c_id = cd.code
          CROSS JOIN (SELECT * FROM embeddings WHERE vec_id < $queryIdBound) q
          WHERE cd.vec_id <> q.vec_id
          GROUP BY 1, 2),
        short AS (
          SELECT qid, cid FROM (
            SELECT qid, cid,
                   row_number() OVER (PARTITION BY qid
                                      ORDER BY est_r DESC, cid) AS srnk
            FROM est) t
          WHERE srnk <= $shortlist),
        n AS (SELECT e.vec_id, sqrt($normChain) AS nrm FROM embeddings e),
        scored AS (
          SELECT s.qid, s.cid,
                 round(($dotChain) / (na.nrm * nb.nrm), $roundScale) AS cos_r
          FROM short s
          JOIN embeddings a ON a.vec_id = s.qid
          JOIN embeddings b ON b.vec_id = s.cid
          JOIN n na ON na.vec_id = s.qid
          JOIN n nb ON nb.vec_id = s.cid)
        SELECT qid, cid, cos_r, CAST(rn AS INTEGER) AS rn
        FROM (SELECT qid, cid, cos_r,
                     row_number() OVER (PARTITION BY qid
                                        ORDER BY cos_r DESC, cid) AS rn
              FROM scored) t
        WHERE rn <= $k"""
  }

  /** IVF-PQ: the two scale paths COMPOSED, the way a billion-vector index
    * actually ships — IVF list assignment prunes the candidate set to the
    * `nProbe` probed lists, and the ADC estimate scan runs over PQ codes
    * (m bytes per vector) only within those lists, followed by the exact
    * refine over the shortlist. Fixed deterministic quantizers on both
    * levels (the ivfTopKFixed / pqTopKFixed precedent); LlmSpec proves
    * recall against brute force and that candidate generation stays a
    * fraction of the corpus.
    */
  def ivfPqTopKFixed(embeddings: DataFrame,
      queryPred: org.apache.spark.sql.Column, nCentroids: Int, nProbe: Int,
      dims: Int, m: Int, ksub: Int, shortlist: Int, k: Int,
      roundScale: Int, ePre: Option[DataFrame] = None): DataFrame = {
    val sub = dims / m
    val e = ePre.getOrElse(normalized(embeddings).mat())
    val spark = e.sparkSession
    import spark.implicits._
    // r16: both quantizer levels are BOUNDED by construction (vec_id <
    // nCentroids / ksub single-digit constants), so both the coarse
    // assignment and the PQ encode are narrow per-row folds over literal
    // arrays — the r8-r15 shape paid (a) a full-corpus crossJoin ×
    // nCentroids + Exchange + Window sort for the coarse rank-1, (b) a
    // full-corpus explode ×m + hash-agg Exchange for the codes, and (c) a
    // localCheckpoint of the coded table. All three collapse into one
    // narrow projection over the checkpointed normalized frame. Rank-1 /
    // argmin tiebreaks are identical (see argmaxDot / pqEncode).
    val (cids, cents) = collectFixed(e, nCentroids)
    val (pids, pcents) = collectFixed(e, ksub)
    if (cents.isEmpty || pcents.isEmpty) {
      return e.filter(lit(false))
        .select(col("vec_id").as("qid"), col("vec_id").as("cid"),
          lit(0.0).as("cos_r"),
          lit(0).cast(org.apache.spark.sql.types.IntegerType).as("rn"))
    }
    // level 1 + level 2 in ONE narrow pass: coarse list by native
    // argmax-dot, PQ codes by the native per-subspace argmin, exploded to
    // the (vec_id, j, code, list_id) grain the ADC scan joins on
    val coded = e.select(col("vec_id"), col("v"))
      .withColumn("pos", argmaxDot(col("v"), cents))
      .withColumn("list_id",
        element_at(typedLit(cids.toSeq), col("pos") + 1))
      .withColumn("codes", pqEncode(col("v"), pcents, m, sub))
      .select(col("vec_id"), col("list_id"),
        posexplode(col("codes")).as(Seq("j", "code")))
    // per-QUERY probe ranking only (bounded query set × nCentroids)
    val cdf = cids.zip(cents).map { case (i, c) => (i, c.toSeq) }.toSeq
      .toDF("c_id", "cv")
    val q = e.filter(queryPred)
      .crossJoin(broadcast(cdf))
      .withColumn("cd", expr("vec_dot(v, cv)"))
      .withColumn("rnk", row_number().over(
        Window.partitionBy("vec_id").orderBy(col("cd").desc, col("c_id"))))
      .filter(col("rnk") <= nProbe)
      .select(col("vec_id").as("qid"), col("v").as("qv"),
        col("nrm").as("qn"), col("c_id").as("list_id"))
    // ADC scan restricted to the probed lists: shuffle on list_id, codes
    // only — the pruning IVF buys before PQ's compressed-domain estimate.
    // Partial dots come from the precomputed broadcast LOOKUP TABLE
    // (|q|·m·ksub rows), so the probed-list scan reads m doubles per pair
    // and never re-evaluates a dot product. Codes are POSITIONS into the
    // sorted codebook (positions and p_ids rank identically), and the LUT
    // is keyed the same way.
    val pdf = pids.zip(pcents).zipWithIndex
      .map { case ((_, c), pos) => (pos, c.toSeq) }.toSeq
      .toDF("cpos", "pv")
    val lut = q.select(col("qid"), col("qv")).dropDuplicates("qid")
      .crossJoin(broadcast(pdf))
      .withColumn("j", explode(sequence(lit(0), lit(m - 1))))
      .withColumn("pd", expr(
        s"vec_dot(slice(qv, j * $sub + 1, $sub), slice(pv, j * $sub + 1, $sub))"))
      .select(col("qid"), col("j"), col("cpos").as("code"), col("pd"))
    val est = coded
      .join(q.select(col("qid"), col("list_id")), Seq("list_id"))
      .filter(col("vec_id") =!= col("qid"))
      .join(broadcast(lut), Seq("qid", "j", "code"))
      .groupBy(col("qid"), col("vec_id").as("cid"))
      .agg(round(sum(col("pd")), roundScale).as("est_r"))
    val ws = Window.partitionBy("qid").orderBy(col("est_r").desc, col("cid"))
    val short = est.withColumn("srnk", row_number().over(ws))
      .filter(col("srnk") <= shortlist)
      .select("qid", "cid")
    val scored = short
      .join(e.select(col("vec_id").as("qid"), col("v").as("qv"),
        col("nrm").as("qn")), "qid")
      .join(e.select(col("vec_id").as("cid"), col("v").as("cv2"),
        col("nrm").as("cn")), "cid")
      .withColumn("cos_r",
        round(expr("vec_dot(qv, cv2)") / (col("qn") * col("cn")), roundScale))
    val w = Window.partitionBy("qid").orderBy(col("cos_r").desc, col("cid"))
    scored.withColumn("rn", row_number().over(w)).filter(col("rn") <= k)
      .select(col("qid"), col("cid"), col("cos_r"),
        col("rn").cast(org.apache.spark.sql.types.IntegerType).as("rn"))
  }

  /** DuckDB oracle for ivfPqTopKFixed — the ivfFixedOracleSql assignment/
    * probe CTEs composed with the pqFixedOracleSql encode/ADC/refine CTEs,
    * with the ADC estimate restricted to the probed lists exactly as the
    * Spark plan restricts it. Same fixed quantizers, same left-associated
    * chains, same rounded-estimate shortlist and tiebreaks.
    */
  def ivfPqFixedOracleSql(dims: Int, nCentroids: Int, nProbe: Int, m: Int,
      ksub: Int, shortlist: Int, k: Int, roundScale: Int,
      queryIdBound: Int = 10): String = {
    val sub = dims / m
    def acc(tbl: String, i: String) = s"CAST($tbl.embedding[$i] AS DOUBLE)"
    def cacc(i: String) = s"CAST(c.cv[$i] AS DOUBLE)"
    val assignChain = (1 to dims)
      .map(i => s"${acc("e", i.toString)} * CAST(c.cv[$i] AS DOUBLE)")
      .mkString(" + ")
    val keyChain = {
      val nc2 = (1 to sub).map { i =>
        val ix = s"j * $sub + $i"; s"${cacc(ix)} * ${cacc(ix)}"
      }.mkString(" + ")
      val dj = (1 to sub).map { i =>
        val ix = s"j * $sub + $i"; s"${acc("e", ix)} * ${cacc(ix)}"
      }.mkString(" + ")
      s"($nc2) - 2 * ($dj)"
    }
    val pdChain = (1 to sub).map { i =>
      val ix = s"j * $sub + $i"
      s"${acc("q", ix)} * ${cacc(ix)}"
    }.mkString(" + ")
    val normChain = (1 to dims)
      .map(i => s"${acc("e", i.toString)} * ${acc("e", i.toString)}")
      .mkString(" + ")
    val dotChain = (1 to dims)
      .map(i => s"${acc("a", i.toString)} * ${acc("b", i.toString)}")
      .mkString(" + ")
    s"""WITH cent AS (SELECT vec_id AS c_id, embedding AS cv
                      FROM embeddings WHERE vec_id < $nCentroids),
        ranked AS (
          SELECT e.vec_id, c.c_id,
                 row_number() OVER (PARTITION BY e.vec_id
                                    ORDER BY ($assignChain) DESC, c.c_id) AS rnk
          FROM embeddings e, cent c),
        assign AS (SELECT vec_id, c_id AS list_id FROM ranked WHERE rnk = 1),
        probes AS (SELECT vec_id AS qid, c_id AS list_id
                   FROM ranked
                   WHERE vec_id < $queryIdBound AND rnk <= $nProbe),
        pqc AS (SELECT vec_id AS c_id, embedding AS cv
                FROM embeddings WHERE vec_id < $ksub),
        coded AS (
          SELECT t.vec_id, t.j, t.c_id AS code, a.list_id FROM (
            SELECT e.vec_id, g.j, c.c_id,
                   row_number() OVER (PARTITION BY e.vec_id, g.j
                                      ORDER BY ($keyChain) ASC, c.c_id) AS rnk
            FROM embeddings e, generate_series(0, ${m - 1}) g(j), pqc c) t
          JOIN assign a ON a.vec_id = t.vec_id
          WHERE t.rnk = 1),
        est AS (
          SELECT p.qid, cd.vec_id AS cid,
                 round(SUM($pdChain), $roundScale) AS est_r
          FROM coded cd
          JOIN pqc c ON c.c_id = cd.code
          JOIN probes p ON p.list_id = cd.list_id
          JOIN embeddings q ON q.vec_id = p.qid
          WHERE cd.vec_id <> p.qid
          GROUP BY 1, 2),
        short AS (
          SELECT qid, cid FROM (
            SELECT qid, cid,
                   row_number() OVER (PARTITION BY qid
                                      ORDER BY est_r DESC, cid) AS srnk
            FROM est) t
          WHERE srnk <= $shortlist),
        n AS (SELECT e.vec_id, sqrt($normChain) AS nrm FROM embeddings e),
        scored AS (
          SELECT s.qid, s.cid,
                 round(($dotChain) / (na.nrm * nb.nrm), $roundScale) AS cos_r
          FROM short s
          JOIN embeddings a ON a.vec_id = s.qid
          JOIN embeddings b ON b.vec_id = s.cid
          JOIN n na ON na.vec_id = s.qid
          JOIN n nb ON nb.vec_id = s.cid)
        SELECT qid, cid, cos_r, CAST(rn AS INTEGER) AS rn
        FROM (SELECT qid, cid, cos_r,
                     row_number() OVER (PARTITION BY qid
                                        ORDER BY cos_r DESC, cid) AS rn
              FROM scored) t
        WHERE rn <= $k"""
  }
}
