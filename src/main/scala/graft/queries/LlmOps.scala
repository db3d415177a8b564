package graft.queries

import graft.Tables._
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Training-data pipeline operators over `documents` / `embeddings`:
  * exact + MinHash-LSH + SimHash dedup, n-gram Jaccard, cosine top-k
  * similarity, language ID, quality scoring, token counting, and document
  * fingerprinting. All formulated as bucketed/banded joins — never
  * all-pairs — so the same plan holds at 100 TB (candidate generation is
  * a shuffle on band hash; verification touches only candidate pairs).
  */
object LlmOps {

  type Q = (SparkSession, String) => DataFrame

  /** The ANN query set is `vec_id < AnnQueryBound` — threaded into BOTH the
    * Spark predicate and every generated oracle SQL (ADVICE r7: a predicate
    * edit must not silently desynchronize the oracle).
    */
  private val AnnQueryBound = 10

  /** recall@k cutoff for the recall rows — ONE constant threaded into
    * the exact arm, every approximate arm and both denominators, so
    * retuning k can never silently divide by a stale constant (review
    * r10).
    */
  private val AnnRecallK = 5

  /** Shared recall@k harness (llm_ann_recall, llm_ivfpq_recall): the
    * exhaustive baseline joined against an approximate arm, per-query
    * hit counts, recall = hits / k — one implementation so a fix to the
    * coalesce/denominator logic can never drift between the rows.
    */
  private def recallQuery(s: SparkSession, d: String,
      approxFrom: DataFrame => DataFrame): DataFrame = {
    val k = AnnRecallK
    // ONE normalized+checkpointed corpus frame shared by the exact arm and
    // the approximate arm (r16): each arm used to re-scan the parquet and
    // re-derive the transform+norm pass — for a recall measurement that is
    // by definition two arms over the SAME table, that is a duplicated
    // corpus scan (guide §1.2).
    val e0 = graft.llm.Similarity.normalized(embeddings(s, d))
      .mat()
    val approx = approxFrom(e0)
    val exact = graft.llm.Similarity.bruteTopK(embeddings(s, d),
      col("vec_id") < AnnQueryBound, k = k, roundScale = 4,
      ePre = Some(e0))
      .select("qid", "cid")
    val hits = exact.join(approx.select("qid", "cid"), Seq("qid", "cid"))
      .groupBy("qid").agg(count(lit(1)).as("n_hit"))
    exact.select("qid").distinct()
      .join(hits, Seq("qid"), "left")
      .select(col("qid"),
        coalesce(col("n_hit"), lit(0L)).as("n_hit"),
        (coalesce(col("n_hit"), lit(0L)).cast(DoubleType) / k)
          .as("recall_at_k"))
  }

  /** The DuckDB twin of recallQuery, parameterized by the approximate
    * arm's oracle SQL.
    */
  private def recallOracleSql(approxSql: String): String =
    s"""WITH exact AS (
          ${graft.llm.Similarity.bruteOracleSql(
              k = AnnRecallK, roundScale = 4,
              queryIdBound = AnnQueryBound)}),
        approx AS (
          $approxSql),
        hits AS (SELECT e.qid, count(*) AS n_hit
                 FROM exact e JOIN approx a
                   ON a.qid = e.qid AND a.cid = e.cid
                 GROUP BY 1),
        qs AS (SELECT DISTINCT qid FROM exact)
        SELECT q.qid, coalesce(h.n_hit, CAST(0 AS BIGINT)) AS n_hit,
               CAST(coalesce(h.n_hit, 0) AS DOUBLE) / $AnnRecallK
                 AS recall_at_k
        FROM qs q LEFT JOIN hits h ON h.qid = q.qid"""

  private[queries] val shingleSql =
    """sh AS (
         SELECT DISTINCT doc_id, concat(l[i], ' ', l[i+1], ' ', l[i+2]) AS s
         FROM (SELECT doc_id, l, unnest(generate_series(1, len(l) - 2)) AS i
               FROM (SELECT doc_id, string_split(text, ' ') AS l FROM documents)
               WHERE len(l) >= 3) t)"""

  /** MinHash family: the classic universal-hash construction — ONE md5 per
    * shingle folded to a 28-bit integer x, then 12 independent affine
    * hashes h_j = (a_j·x + c_j) mod p (p = 2^31−1). One cryptographic hash
    * per shingle instead of twelve is the difference between hashing being
    * the pipeline's hot spot and a rounding error — at 100 TB the per-
    * shingle hash count IS the minhash cost. a_j·x < 2^59, no overflow.
    */
  private val MinhashP = 2147483647L
  private val MinhashA = Seq(1103515245L, 1232937849L, 1654435769L,
    999999937L, 1779033703L, 1013904223L, 1847062237L, 2038074743L,
    1294967291L, 1431655751L, 1540483477L, 2091639091L)
  private val MinhashC = Seq(12345L, 362437L, 521288629L, 668265263L,
    374761393L, 951274213L, 777767777L, 303700049L, 1111111111L,
    99990001L, 613651349L, 1500450271L)

  private val minhashSigSql = {
    val perSeed = MinhashA.zip(MinhashC).zipWithIndex.map {
      case ((a, c), j) =>
        s"min(($a * x + $c) % $MinhashP) AS mh$j"
    }.mkString(", ")
    s"""sig AS (
         SELECT doc_id, $perSeed
         FROM (SELECT doc_id,
                      CAST(concat('0x', substr(md5(s), 1, 7)) AS BIGINT) AS x
               FROM sh) t
         GROUP BY doc_id)"""
  }

  /** SimHash vote vector per doc: 32 signed vote counters, computed in ONE
    * narrow codegen'd pass by the native `simhash_votes` expression
    * (graft.functions.SimhashVotes) — the signature is a pure function of
    * the document's own tokens, so the r1-r8 shape (per-(doc,tok) tf agg →
    * distinct-vocabulary exchange → broadcast vocabulary join → 32-column
    * vote aggregation) rebuilt doc-local state through two corpus
    * exchanges and a join. (An earlier narrow attempt lost 5× to
    * INTERPRETED higher-order lambdas per token instance; the native
    * expression is the fix, not giving up the narrow shape.) The
    * null-text filter mirrors the old explode semantics: a null text
    * produced no (doc, tok) rows, so the doc was absent from the votes.
    */
  private def simhashVotes(s: SparkSession, d: String): DataFrame =
    documents(s, d)
      .transform(pinnedRepartition(_, col("doc_id"))) // parallelize the CPU-bound hashing
      .select(col("doc_id"),
        expr("simhash_votes(split(text, ' '))").as("v"))
      .filter(col("v").isNotNull)

  /** The (doc, token, bit-vote) SQL shared by both simhash oracles. */
  private val simhashVotesSql =
    """t AS (
         SELECT doc_id, tok, count(*) AS w
         FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS tok
               FROM documents) u
         GROUP BY 1, 2),
       bits AS (
         SELECT doc_id, j,
                SUM(w * (((strpos('0123456789abcdef',
                                  substr(md5(tok), 1 + j // 4, 1)) - 1
                           >> (j % 4)) & 1) * 2 - 1)) AS v
         FROM (SELECT doc_id, tok, w, unnest(generate_series(0, 31)) AS j
               FROM t) x
         GROUP BY doc_id, j)"""

  /** The shared (doc_id, token-array) stream every fan-out starts from:
    * the corpus lands as few large files, so docs are spread across the
    * core budget BEFORE any per-doc CPU work parallelizes over them.
    * Callers that need the SAME tokenization several times
    * (llm_corpus_report) pass a checkpointed instance into
    * shingleProfile/minhashPairs instead of re-scanning and re-splitting
    * the corpus per sub-aggregate.
    */
  private[queries] def tokenized(s: SparkSession, d: String): DataFrame =
    documents(s, d)
      .transform(pinnedRepartition(_, col("doc_id")))
      .select(col("doc_id"), split(col("text"), " ").as("l"))

  /** Shared per-doc shingle profile: the distinct 60-bit shingle codes
    * `hs` (md5-prefix — the engine-mirrorable mapping), their count `c`,
    * and the 12-seed affine minhash signature `mhs`, materialized ONCE
    * (localCheckpoint) and consumed by the minhash, n-gram-Jaccard,
    * decontamination and clustering pipelines.
    *
    * ZERO-SHUFFLE since r9: the per-doc distinct set is document-bounded,
    * so the native `shingle_codes` expression (graft.functions
    * .ShingleCodes) computes it in per-task scratch straight off the token
    * array, and `minhash_sig` folds all 12 per-seed minima in one further
    * pass — the profile is a narrow codegen'd map over the scan. The r1-r8
    * explode → md5 → groupBy(collect_set, 12×min) formulation paid a
    * corpus-sized aggregation exchange (one row per shingle INSTANCE,
    * ~10^13 rows at 100 TB) plus object-hash collect_set state to
    * reassemble sets the token array already held. (An earlier narrow
    * attempt lost to 13 INTERPRETED higher-order lambdas per doc — the
    * fix is native expressions, not giving up the narrow shape.)
    * Shingle-instance duplicates dedup inside shingle_codes; a duplicate
    * instance cannot change a per-seed min — exactly the oracle's
    * DISTINCT-rows semantics (minhashSigSql's min over instances).
    * localCheckpoint, not cache(): several downstream joins read this, and
    * a lazy cache leaves join sides racing to materialize the same blocks
    * (measured multi-second stalls).
    */
  private[queries] def shingleProfile(s: SparkSession, d: String,
      withSignature: Boolean = true,
      toks: Option[DataFrame] = None,
      keepTokens: Boolean = false,
      materialize: Boolean = true): DataFrame = {
    // keepTokens threads the token array through the SAME checkpoint so a
    // caller needing both (llm_corpus_report's span stream) pays ONE
    // materialization job instead of a serial toks-then-profile pair
    val tokCols = if (keepTokens) Seq(col("l")) else Nil
    val base = toks.getOrElse(tokenized(s, d))
      .filter(size(col("l")) >= 3)
      .select(col("doc_id") +: expr("shingle_codes(l)").as("hs") +: tokCols: _*)
    val prof =
      if (withSignature) {
        val aLits = MinhashA.map(a => s"${a}L").mkString(", ")
        val cLits = MinhashC.map(c => s"${c}L").mkString(", ")
        base.select(col("doc_id") +: col("hs") +: size(col("hs")).as("c") +:
          expr(s"minhash_sig(hs, array($aLits), array($cLits), ${MinhashP}L)")
            .as("mhs") +: tokCols: _*)
      } else base.select(
        col("doc_id") +: col("hs") +: size(col("hs")).as("c") +: tokCols: _*)
    // materialize=false is for callers whose consumers read DISJOINT doc
    // subsets (llm_decontaminate's eval-vocab and training arms split on
    // doc_id%50): there the two recomputed subtrees cost ONE corpus's
    // shingle CPU in total — the filter pushes below the tokenize — while
    // the materialization pays a full profile block write plus reads for
    // no saved work (r17 A/B: see OPTIMIZATION_r17.md §2.2). Callers with
    // OVERLAPPING consumers keep the default.
    if (materialize) prof.mat() else prof
  }

  /** ADAPTIVE CANDIDATE GRAIN (r15). The r14 content-grain refactor made
    * the dedup/ANN candidate generators multiplicity-proof (the sf10
    * re-crawl-bomb regime), but where duplicate multiplicity ≈ 1 — an
    * already-deduped or first-crawl corpus, which is also every test sf —
    * the distinct-content indirection is pure overhead: a content-hash
    * exchange of the full profiles, an extra checkpoint, two expansion
    * joins, and a same-content self-join that finds nothing (measured
    * 0.2–1.3 s per dedup row at sf0.1). One cheap aggregation over the
    * corpus decides the grain per run: direct id grain iff
    * distinct/total >= 0.97 AND no single value has more than 8 copies —
    * the ratio alone is skew-blind (one text duplicated 10^7 times in a
    * 10^9-doc corpus keeps the ratio at 0.99 while its band bucket goes
    * quadratic), so the max-multiplicity guard rides the same
    * aggregation. Both grains produce IDENTICAL output (pinned in
    * AdaptiveGrainSpec): the probe selects a plan, never semantics.
    * 64-bit probe-hash collisions only deflate the ratio, i.e. bias
    * toward the safe content-grain path. Memoized per (table, sf dir) —
    * the corpus shape is a property of the input, the same one-time
    * corpus-product rule as cluster labels and the streaming fixtures —
    * so Bench's warm pass absorbs it and measured passes read the cached
    * decision.
    */
  private val grainProbe =
    new java.util.concurrent.ConcurrentHashMap[String, java.lang.Boolean]()

  /** The pure decision — unit-tested directly. */
  private[graft] def idGrainDecision(values: Long, distinct: Long,
      maxCopies: Long): Boolean =
    values == 0L ||
      (distinct.toDouble / values >= 0.97 && maxCopies <= 8L)

  private[graft] def idGrainOk(df: => DataFrame, key: Column,
      cacheKey: String): Boolean =
    grainProbe.computeIfAbsent(cacheKey, _ => {
      val r = df.groupBy(key.as("h")).agg(count(lit(1)).as("n"))
        .agg(coalesce(count(lit(1)), lit(0L)).as("distinct"),
          coalesce(sum(col("n")), lit(0L)).as("values"),
          coalesce(max(col("n")), lit(0L)).as("maxn"))
        .head()
      java.lang.Boolean.valueOf(
        idGrainDecision(r.getLong(1), r.getLong(0), r.getLong(2)))
    })

  /** Text-multiplicity probe: drives the minhash AND simhash grain (docs
    * sharing a text share both signatures; a 32-bit simhash can collide
    * across texts, but only text-level re-crawl multiplicity produces the
    * quadratic bucket regime the content grain exists for).
    */
  private[graft] def textIdGrainOk(s: SparkSession, d: String): Boolean =
    idGrainOk(documents(s, d), xxhash64(col("text")), s"text|$d")

  /** Vector-multiplicity probe for the embedding-space generators. */
  private[graft] def vecIdGrainOk(s: SparkSession, d: String): Boolean =
    idGrainOk(embeddings(s, d), xxhash64(col("embedding")), s"vec|$d")

  /** DISTINCT-TEXT-grain minhash LSH (r14 — the sf10 probe's finding):
    * all copies of one text share `hs` and therefore `mhs`, so banding
    * DOC ids makes every band bucket quadratic in duplicate multiplicity
    * — a 100×-re-crawled corpus (sf10) put C(100,2)·|texts| id pairs
    * through the candidate broadcast and broke the 8G HashedRelation
    * bound. Candidates are generated and Jaccard-verified ONCE per
    * distinct text pair; multiplicity never enters a join build or a
    * label-propagation edge list — only the (contract-sized) doc-pair
    * expansion. Returns
    *  - docsT: (doc_id, th) — every profiled doc with its text hash,
    *  - reps:  (th, rd, c, hs, mhs) — one representative per text
    *    (min doc id; all copies' profiles are identical by construction),
    *  - pairsT: (t1, t2, jac) — verified near-dup DISTINCT-text pairs.
    * Text identity is md5 of the canonical shingle-set rendering (hs is
    * sorted-distinct out of shingle_codes) — 128-bit, so colliding two
    * different texts is out of reach at any corpus size, unlike a 64-bit
    * key at 10^10 distinct docs.
    */
  private[queries] def minhashTextPairs(s: SparkSession, d: String,
      toks: Option[DataFrame] = None,
      prof: Option[DataFrame] = None)
      : (DataFrame, DataFrame, DataFrame) = {
    val ds = prof.getOrElse(shingleProfile(s, d, toks = toks))
    val withTh = ds.select(col("doc_id"), col("hs"), col("c"), col("mhs"),
      md5(col("hs").cast(StringType)).as("th"))
    val docsT = withTh.select(col("doc_id"), col("th"))
    // ONE key-partitioned exchange of the profile (linear, the canonical
    // scalable shape); the min-struct picks the lowest-doc representative
    // and its profile in the same aggregation — doc_id leads the struct,
    // so the comparison never reaches the arrays
    val reps = withTh
      .groupBy(col("th"))
      .agg(min(struct(col("doc_id"), col("c"), col("hs"), col("mhs")))
        .as("r"))
      .select(col("th"), col("r.doc_id").as("rd"), col("r.c").as("c"),
        col("r.hs").as("hs"), col("r.mhs").as("mhs"))
      .mat()
    // band key straight from the signature array (b=6 bands × r=2): the
    // two row-values pack into ONE bigint (mh < p, so mh1·p + mh2 is
    // injective) — a numeric join key, no re-hash, no re-aggregation
    // shuffle; text ids only into the join.
    val bands = reps.select(col("th"), col("rd"), expr(
      s"""explode(transform(sequence(0, 5),
           b -> struct(b AS band,
                       element_at(mhs, b*2 + 1) * ${MinhashP}L
                         + element_at(mhs, b*2 + 2) AS bh)))""").as("x"))
      .select(col("th"), col("rd"), col("x.band").as("band"),
        col("x.bh").as("bh"))
    val candT = bands.as("a").join(bands.as("b"),
        col("a.band") === col("b.band") && col("a.bh") === col("b.bh") &&
          col("a.rd") < col("b.rd"))
      .select(col("a.th").as("t1"), col("b.th").as("t2")).distinct()
    // exact Jaccard once per text pair: two hash joins back to the
    // representative sets, then a narrow array_intersect. shuffle_hash
    // with the PAIR side as build: per-task state is candidate-pairs /
    // partitions — partition-bounded at any corpus size, where the r13
    // broadcast of the whole pair set was driver-bounded and fell over
    // exactly when duplicate multiplicity spiked.
    val pairsT = candT.hint("shuffle_hash")
      .join(reps.select(col("th").as("t1"), col("hs").as("hs1"),
        col("c").as("ca")), "t1")
      .hint("shuffle_hash")
      .join(reps.select(col("th").as("t2"), col("hs").as("hs2"),
        col("c").as("cb")), "t2")
      .withColumn("ic", size(array_intersect(col("hs1"), col("hs2"))))
      .select(col("t1"), col("t2"),
        (col("ic").cast(DoubleType) / (col("ca") + col("cb") - col("ic")))
          .as("jac"))
      .filter(col("jac") >= 0.4)
    (docsT, reps, pairsT)
  }

  /** The full MinHash-LSH near-dup pair pipeline (shared by the pair query
    * and the clustering query).
    */
  private[queries] def minhashPairs(s: SparkSession, d: String,
      toks: Option[DataFrame] = None,
      pairPred: Option[(Column, Column) => Column] = None,
      smallSide: Option[Column => Column] = None,
      prof: Option[DataFrame] = None): DataFrame = {
    smallSide match {
      // ASYMMETRIC mode (incremental dedup): the caller names a BOUNDED
      // doc subset (the daily batch) whose band keys broadcast; the
      // corpus-sized side is probed in place — doc grain is correct here
      // BY the boundedness contract, so this arm keeps the r13 shape.
      case Some(_) =>
        minhashPairsAsymmetric(s, d, toks, pairPred, smallSide.get, prof)
      // SYMMETRIC at multiplicity ≈ 1 (r15 adaptive grain): band DOC ids
      // directly — the content-hash exchange, the reps checkpoint and the
      // id-pair expansion joins buy nothing when almost every text is
      // unique. Output identical (AdaptiveGrainSpec pins both grains).
      case None if textIdGrainOk(s, d) =>
        minhashPairsIdGrain(s, d, toks, pairPred, prof)
      case None =>
        minhashPairsContentGrain(s, d, toks, pairPred, prof)
    }
  }

  /** Content-grain symmetric arm (r14) — candidates once per distinct
    * text, expanded to the doc-pair contract by bounded equi-joins.
    */
  private[graft] def minhashPairsContentGrain(s: SparkSession, d: String,
      toks: Option[DataFrame] = None,
      pairPred: Option[(Column, Column) => Column] = None,
      prof: Option[DataFrame] = None): DataFrame = {
        val (docsT, _, pairsT) = minhashTextPairs(s, d, toks, prof)
        // expand text pairs to the doc-grain contract: cross-text pairs
        // carry the verified jac; same-text pairs are exact duplicates
        // (identical shingle sets ⇒ jac ≡ 1.0, which the band join finds
        // by construction — identical signatures share every band). Both
        // are shuffled equi-joins on th: build sides are |corpus|-bounded
        // per task, output is the row's own contract size.
        val cross = pairsT
          .join(docsT.select(col("th").as("t1"), col("doc_id").as("i")),
            "t1")
          .join(docsT.select(col("th").as("t2"), col("doc_id").as("j")),
            "t2")
          .select(least(col("i"), col("j")).as("d1"),
            greatest(col("i"), col("j")).as("d2"), col("jac"))
        val same = docsT.as("x").join(docsT.as("y"),
            col("x.th") === col("y.th") &&
              col("x.doc_id") < col("y.doc_id"))
          .select(col("x.doc_id").as("d1"), col("y.doc_id").as("d2"),
            lit(1.0).as("jac"))
        val expanded = cross.unionByName(same)
        // the id-only predicate commutes with expansion (it only prunes);
        // applying it here keeps pruned pairs out of every consumer
        pairPred.map(p => expanded.filter(p(col("d1"), col("d2"))))
          .getOrElse(expanded)
  }

  /** Direct doc-grain symmetric arm — taken when the multiplicity probe
    * says duplicate copies ≈ 1, so band buckets cannot go quadratic in
    * copy count. Candidates come straight off the band self-join on doc
    * ids; the candidate PAIR set (bounded by band selectivity ∝ true-dup
    * rate, guarded by the probe) broadcasts as the build side of the two
    * verify joins — the fat shingle-set side never moves.
    */
  private[graft] def minhashPairsIdGrain(s: SparkSession, d: String,
      toks: Option[DataFrame] = None,
      pairPred: Option[(Column, Column) => Column] = None,
      prof: Option[DataFrame] = None): DataFrame = {
    val ds = prof.getOrElse(shingleProfile(s, d, toks = toks))
    val bands = ds.select(col("doc_id"), expr(
      s"""explode(transform(sequence(0, 5),
           b -> struct(b AS band,
                       element_at(mhs, b*2 + 1) * ${MinhashP}L
                         + element_at(mhs, b*2 + 2) AS bh)))""").as("x"))
      .select(col("doc_id"), col("x.band").as("band"), col("x.bh").as("bh"))
    // callers with an id-only pair predicate push it INTO the band join:
    // pairs it would discard never reach the distinct or the verify
    // joins. The predicate only reads the two ids, so filtering
    // candidates commutes with the Jaccard verification.
    val pred = pairPred.map(p => p(col("a.doc_id"), col("b.doc_id")))
      .getOrElse(lit(true))
    val cand = bands.as("a").join(bands.as("b"),
        col("a.band") === col("b.band") && col("a.bh") === col("b.bh") &&
          col("a.doc_id") < col("b.doc_id") && pred)
      .select(col("a.doc_id").as("d1"), col("b.doc_id").as("d2")).distinct()
    broadcast(cand)
      .join(ds.select(col("doc_id").as("d1"), col("hs").as("hs1"),
        col("c").as("ca")), "d1")
      .hint("broadcast")
      .join(ds.select(col("doc_id").as("d2"), col("hs").as("hs2"),
        col("c").as("cb")), "d2")
      .withColumn("ic", size(array_intersect(col("hs1"), col("hs2"))))
      .select(col("d1"), col("d2"),
        (col("ic").cast(DoubleType) / (col("ca") + col("cb") - col("ic")))
          .as("jac"))
      .filter(col("jac") >= 0.4)
  }

  /** The r13 doc-grain asymmetric arm (bounded-batch broadcast). */
  private def minhashPairsAsymmetric(s: SparkSession, d: String,
      toks: Option[DataFrame],
      pairPred: Option[(Column, Column) => Column],
      isSmall: Column => Column,
      prof: Option[DataFrame]): DataFrame = {
    val ds = prof.getOrElse(shingleProfile(s, d, toks = toks))
    val bands = ds.select(col("doc_id"), expr(
      s"""explode(transform(sequence(0, 5),
           b -> struct(b AS band,
                       element_at(mhs, b*2 + 1) * ${MinhashP}L
                         + element_at(mhs, b*2 + 2) AS bh)))""").as("x"))
      .select(col("doc_id"), col("x.band").as("band"), col("x.bh").as("bh"))
    // the caller names a BOUNDED doc subset (the daily batch) whose band
    // keys broadcast; the corpus-sized side is probed in place — no
    // shuffle of the big side's band stream at all, the shape that holds
    // when the corpus is 100 TB and the batch is one day's crawl.
    // Cross-group pairs only, by construction — exactly pairPred's
    // new≠old semantics — and least/greatest restores the d1 < d2
    // orientation the verify joins and the oracle share.
    val cand0 =
      broadcast(bands.filter(isSmall(col("doc_id")))).as("a")
        .join(bands.filter(!isSmall(col("doc_id"))).as("b"),
          col("a.band") === col("b.band") && col("a.bh") === col("b.bh"))
        .select(least(col("a.doc_id"), col("b.doc_id")).as("d1"),
          greatest(col("a.doc_id"), col("b.doc_id")).as("d2")).distinct()
    // the id-only predicate prunes candidates before the verify joins;
    // it commutes with the Jaccard verification
    val cand = pairPred.map(p => cand0.filter(p(col("d1"), col("d2"))))
      .getOrElse(cand0)
    // exact Jaccard: two hash joins back to the checkpointed sets, then a
    // narrow array_intersect — no explode/groupBy over candidate shingles.
    // The CANDIDATE side is the broadcast build side (id pairs, bounded
    // HERE by the batch contract — batch × its near-dups): without the
    // hint Catalyst builds on the profile side and ships every doc's full
    // shingle SET through a driver collect + broadcast — the fat side
    // must never move.
    broadcast(cand)
      .join(ds.select(col("doc_id").as("d1"), col("hs").as("hs1"),
        col("c").as("ca")), "d1")
      .hint("broadcast")
      .join(ds.select(col("doc_id").as("d2"), col("hs").as("hs2"),
        col("c").as("cb")), "d2")
      .withColumn("ic", size(array_intersect(col("hs1"), col("hs2"))))
      .select(col("d1"), col("d2"),
        (col("ic").cast(DoubleType) / (col("ca") + col("cb") - col("ic"))).as("jac"))
      .filter(col("jac") >= 0.4)
  }

  /** The pair chain of the minhash oracle, shared by both oracles. */
  private[queries] val minhashPairsSql = {
    val bandKeys = (0 until 6)
      .map(b => s"mh${b * 2} * $MinhashP + mh${b * 2 + 1}")
      .mkString("[", ", ", "]")
    shingleSql + ", " + minhashSigSql + s""",
            bands AS (
              SELECT doc_id, b AS band, $bandKeys[b + 1] AS bh
              FROM sig, generate_series(0, 5) g(b)),""" + """
            cand AS (
              SELECT DISTINCT a.doc_id AS d1, b.doc_id AS d2
              FROM bands a JOIN bands b
                ON a.band = b.band AND a.bh = b.bh AND a.doc_id < b.doc_id),
            shh AS (SELECT DISTINCT doc_id,
                           CAST(concat('0x', substr(md5(s), 1, 15)) AS BIGINT)
                             AS x
                    FROM sh),
            cnt AS (SELECT doc_id, count(*) AS c FROM shh GROUP BY 1),
            inter AS (
              SELECT cand.d1, cand.d2, count(*) AS ic
              FROM cand
              JOIN shh s1 ON s1.doc_id = cand.d1
              JOIN shh s2 ON s2.doc_id = cand.d2 AND s1.x = s2.x
              GROUP BY 1, 2),
            pairs AS (
              SELECT d1, d2, CAST(ic AS DOUBLE) / (ca.c + cb.c - ic) AS jac
              FROM inter
              JOIN cnt ca ON ca.doc_id = d1
              JOIN cnt cb ON cb.doc_id = d2
              WHERE CAST(ic AS DOUBLE) / (ca.c + cb.c - ic) >= 0.4)"""
  }

  val all: Seq[(String, Q, Option[String])] = Seq[(String, Q, Option[String])](

    // Exact dedup: content-hash groupBy, keep min id (deterministic keeper)
    ("llm_exact_dedup",
      (s, d) => documents(s, d)
        .select(col("doc_id"), md5(col("text")).as("h"))
        .groupBy("h")
        .agg(min(col("doc_id")).as("keeper"), count(lit(1)).as("n")),
      Some("""SELECT h, min(doc_id) AS keeper, count(*) AS n
              FROM (SELECT doc_id, md5(text) AS h FROM documents) t
              GROUP BY h""")),

    // MinHash + banded LSH near-dup join. b=6 bands × r=2 rows ⇒ candidate
    // threshold ≈ (1/6)^(1/2) ≈ 0.41 Jaccard; exact Jaccard verification on
    // candidates only. At 100 TB: candidates come from a shuffle on
    // (band, band_hash) — cost scales with data + true-dup count, never n².
    ("llm_minhash_dedup", (s, d) => minhashPairs(s, d),
      Some("WITH " + minhashPairsSql + " SELECT d1, d2, jac FROM pairs")),

    // MinHash-LSH candidate RECALL — the dedup twin of llm_ann_recall and
    // the measurement that tunes the (bands, rows) banding scheme: ground
    // truth is the exhaustive exact Jaccard over a SAMPLED doc subset
    // (id-parity here — an id-hash sample in production; the only place
    // all-pairs truth is affordable, the same bounded-sample rule as the
    // IVF trainer and the CCNet cutoffs), computed through the inverted
    // index (explode → code self-join → pair counts — pairs sharing no
    // shingle have J=0 and never materialize), NOT an n² array
    // intersect. The candidate arm is the production LSH pipeline with
    // the subset predicate pushed into its band join. One summary row:
    // truth pairs, LSH pairs, hits, recall — the band-miss rate read
    // straight off a sampled shard.
    ("llm_minhash_recall",
      (s, d) => if (textIdGrainOk(s, d)) minhashRecallIdGrain(s, d)
                else minhashRecallTextGrain(s, d),
      Some("WITH " + minhashPairsSql + """,
            lsh AS (SELECT d1, d2 FROM pairs
                    WHERE d1 % 2 = 0 AND d2 % 2 = 0),
            tinter AS (
              SELECT a.doc_id AS d1, b.doc_id AS d2, count(*) AS ic
              FROM shh a JOIN shh b ON a.x = b.x AND a.doc_id < b.doc_id
              WHERE a.doc_id % 2 = 0 AND b.doc_id % 2 = 0 GROUP BY 1, 2),
            truth AS (
              SELECT d1, d2 FROM tinter
              JOIN cnt ca ON ca.doc_id = d1
              JOIN cnt cb ON cb.doc_id = d2
              WHERE CAST(ic AS DOUBLE) / (ca.c + cb.c - ic) >= 0.4),
            m AS (SELECT (SELECT count(*) FROM truth) AS n_truth,
                         (SELECT count(*) FROM lsh) AS n_lsh,
                         (SELECT count(*) FROM truth t JOIN lsh l
                            ON l.d1 = t.d1 AND l.d2 = t.d2) AS n_hit)
            SELECT CAST(n_truth AS BIGINT) AS n_truth,
                   CAST(n_lsh AS BIGINT) AS n_lsh,
                   CAST(n_hit AS BIGINT) AS n_hit,
                   CASE WHEN n_truth = 0 THEN NULL
                        ELSE CAST(n_hit AS DOUBLE) / n_truth END AS recall
            FROM m""")),

    // Dedup CLUSTERING: connected components over the near-dup pair graph,
    // via min-label propagation — each doc's label converges to the
    // smallest doc_id in its component (= the canonical keeper). The
    // iterative joins are the standard scalable formulation (diameter-
    // bounded rounds of hash joins, per-round eager materialization); the
    // oracle computes the same components with a recursive CTE.
    ("llm_dedup_clusters", (s, d) => dedupClusters(s, d),
      Some("WITH RECURSIVE " + minhashPairsSql + """,
            edges AS (SELECT d1 AS src, d2 AS dst FROM pairs
                      UNION ALL
                      SELECT d2, d1 FROM pairs),
            verts AS (SELECT DISTINCT src AS v FROM edges),
            reach(v, u) AS (
              SELECT v, v FROM verts
              UNION
              SELECT r.v, e.dst FROM reach r JOIN edges e ON r.u = e.src)
            SELECT v AS doc_id, min(u) AS cluster
            FROM reach GROUP BY v""")),

    // Dedup-cluster SIZE DISTRIBUTION — the health report read before
    // applying any dedup policy (a fat tail of giant components usually
    // means boilerplate, not true duplication, and wants a different
    // treatment than pairwise near-dups): two tiny aggregations over the
    // component labels, output bounded by the largest component size.
    ("llm_dedup_cluster_stats",
      (s, d) => dedupClusters(s, d)
        .groupBy("cluster").agg(count(lit(1)).as("sz"))
        .groupBy("sz").agg(count(lit(1)).as("n_clusters")),
      Some("WITH RECURSIVE " + minhashPairsSql + """,
            edges AS (SELECT d1 AS src, d2 AS dst FROM pairs
                      UNION ALL
                      SELECT d2, d1 FROM pairs),
            verts AS (SELECT DISTINCT src AS v FROM edges),
            reach(v, u) AS (
              SELECT v, v FROM verts
              UNION
              SELECT r.v, e.dst FROM reach r JOIN edges e ON r.u = e.src),
            comp AS (SELECT v, min(u) AS cluster FROM reach GROUP BY v),
            szs AS (SELECT cluster, count(*) AS sz FROM comp GROUP BY 1)
            SELECT sz, count(*) AS n_clusters FROM szs GROUP BY 1""")),

    // LEAKAGE-SAFE train/val/test split — the content-hash split
    // (llm_train_split) leaks when a val/test doc has a NEAR-duplicate in
    // train (the within-corpus form of benchmark contamination; Lee et al.
    // 2022 measure the inflation it causes). Assign every document the
    // md5 bucket of its near-dup COMPONENT KEEPER (docs in no component
    // keep their own id), so whole clusters land in one split by
    // construction. The split is still content-deterministic and
    // reshuffle-stable. Output: per-split doc/cluster counts plus the
    // leakage gate recomputed FROM THE DATA (every cluster must touch
    // exactly one split), so a regression in the component labels or the
    // bucketing turns the row red rather than silently leaking. Scale
    // shape: component labels come from the banded-LSH pipeline (never
    // all-pairs), the split tag is a narrow map, and the gate + counts
    // are cluster-grain aggregations.
    ("llm_leakage_safe_split",
      (s, d) => {
        val lab = documents(s, d).select(col("doc_id"))
          .join(dedupClusters(s, d), Seq("doc_id"), "left")
          .select(col("doc_id"),
            coalesce(col("cluster"), col("doc_id")).as("cluster"))
        // first md5 byte as an int: one hash + conv of the leading two hex
        // digits (r17) — same value as the r16 double instr/substr probe
        // ((h1)·16 + h2), half the per-row hashing and string slicing
        val b = expr(
          "CAST(conv(substr(md5(CAST(cluster AS STRING)), 1, 2), 16, 10) AS INT)")
        // cluster-grain frame consumed TWICE (the gate aggregate and the
        // per-split counts) — one lazy materialization instead of
        // re-running the corpus join + bucket + aggregation per consumer
        // (r17; the gate's broadcast build realizes it)
        val perCluster = lab
          .withColumn("split",
            when(b < 205, "train").when(b < 230, "val").otherwise("test"))
          .groupBy("cluster")
          .agg(count(lit(1)).as("n_docs_c"),
            min(col("split")).as("smin"), max(col("split")).as("smax"))
          .mat(eager = false)
        val gate = perCluster.agg(
          min(when(col("smin") === col("smax"), 1).otherwise(0)).as("okint"))
        perCluster.groupBy(col("smin").as("split"))
          .agg(sum(col("n_docs_c")).cast(LongType).as("n_docs"),
            count(lit(1)).as("n_clusters"))
          .crossJoin(broadcast(gate))
          .select(col("split"), col("n_docs"), col("n_clusters"),
            (col("okint") === 1).as("no_leakage"))
      },
      Some("WITH RECURSIVE " + minhashPairsSql + """,
            edges AS (SELECT d1 AS src, d2 AS dst FROM pairs
                      UNION ALL
                      SELECT d2, d1 FROM pairs),
            verts AS (SELECT DISTINCT src AS v FROM edges),
            reach(v, u) AS (
              SELECT v, v FROM verts
              UNION
              SELECT r.v, e.dst FROM reach r JOIN edges e ON r.u = e.src),
            comp AS (SELECT v AS doc_id, min(u) AS cluster
                     FROM reach GROUP BY v),
            lab AS (SELECT d.doc_id,
                           coalesce(c.cluster, d.doc_id) AS cluster
                    FROM documents d LEFT JOIN comp c USING (doc_id)),
            tagged AS (
              SELECT cluster,
                     CASE WHEN b < 205 THEN 'train'
                          WHEN b < 230 THEN 'val'
                          ELSE 'test' END AS split
              FROM (SELECT cluster,
                           (strpos('0123456789abcdef',
                                   substr(md5(CAST(cluster AS VARCHAR)), 1, 1))
                            - 1) * 16
                           + strpos('0123456789abcdef',
                                    substr(md5(CAST(cluster AS VARCHAR)), 2, 1))
                           - 1 AS b
                    FROM lab) t),
            pc AS (SELECT cluster, count(*) AS n_docs_c,
                          min(split) AS smin, max(split) AS smax
                   FROM tagged GROUP BY 1),
            gate AS (SELECT min(CASE WHEN smin = smax THEN 1 ELSE 0 END)
                              AS okint FROM pc)
            SELECT smin AS split, CAST(SUM(n_docs_c) AS BIGINT) AS n_docs,
                   count(*) AS n_clusters,
                   (SELECT okint FROM gate) = 1 AS no_leakage
            FROM pc GROUP BY smin""")),

    // Dedup APPLY — the survivor selection the clustering feeds: every doc
    // whose cluster keeper (the component's min doc_id) is a DIFFERENT doc
    // is dropped; everything else (incl. docs in no near-dup pair at all)
    // survives. The anti-join is the standard corpus-sized application:
    // the dropped set is bounded by the duplicate rate, documents stream
    // through one hash join on doc_id.
    ("llm_dedup_apply",
      (s, d) => {
        val dropped = dedupClusters(s, d)
          .filter(col("cluster") < col("doc_id")).select("doc_id")
        documents(s, d).select("doc_id")
          .join(dropped, Seq("doc_id"), "left_anti")
      },
      Some("WITH RECURSIVE " + minhashPairsSql + """,
            edges AS (SELECT d1 AS src, d2 AS dst FROM pairs
                      UNION ALL
                      SELECT d2, d1 FROM pairs),
            verts AS (SELECT DISTINCT src AS v FROM edges),
            reach(v, u) AS (
              SELECT v, v FROM verts
              UNION
              SELECT r.v, e.dst FROM reach r JOIN edges e ON r.u = e.src),
            clusters AS (SELECT v, min(u) AS cluster FROM reach GROUP BY v)
            SELECT d.doc_id FROM documents d
            WHERE NOT EXISTS (SELECT 1 FROM clusters c
                              WHERE c.v = d.doc_id
                                AND c.cluster < c.v)""")),
    // Dedup APPLY, quality-weighted — the survivor policy real curation
    // pipelines use: within each near-dup cluster keep the HIGHEST-
    // QUALITY member (token count here; tiebreak doc_id), not the
    // smallest id. max_by over a struct key is a plain one-pass
    // aggregation — no per-cluster sort, no window — and the struct's
    // second field makes the ordering total, so the keeper is
    // deterministic under any partitioning. Everything downstream of the
    // clustering is id-sized: quality join, keeper agg, anti join.
    ("llm_dedup_apply_best",
      (s, d) => {
        val clusters = dedupClusters(s, d)
        // Quality is only ever read for CLUSTER MEMBERS (the keeper join
        // below is inner on clusters), so in the low-multiplicity regime
        // — where members are a dup-rate-bounded sliver of the corpus —
        // token_runs runs on the members only, gated by a broadcast semi
        // join (r17; the broadcastability assumption is the SAME one
        // minhashPairsIdGrain already makes for the candidate pair set in
        // this regime, and members ≤ 2·pairs). In the re-crawl-bomb
        // regime (~every doc a member) the corpus-wide eval is the right
        // shape: the text payload never enters a join, only (doc_id,
        // ntok) shuffles. Either arm feeds identical rows to the keeper
        // aggregation — non-members' quality was never consumed.
        val qual =
          if (textIdGrainOk(s, d))
            documents(s, d)
              .join(broadcast(clusters.select("doc_id")),
                Seq("doc_id"), "left_semi")
              .select(col("doc_id"), expr("token_runs(text)").as("ntok"))
          else documents(s, d).select(col("doc_id"),
            expr("token_runs(text)").as("ntok"))
        val keepers = clusters.join(qual, "doc_id")
          .groupBy("cluster")
          .agg(max_by(col("doc_id"),
            struct(col("ntok"), (-col("doc_id")).as("nid"))).as("keeper"))
        val dropped = clusters.join(keepers, "cluster")
          .filter(col("doc_id") =!= col("keeper")).select("doc_id")
        documents(s, d).select("doc_id")
          .join(dropped, Seq("doc_id"), "left_anti")
      },
      Some("WITH RECURSIVE " + minhashPairsSql + """,
            edges AS (SELECT d1 AS src, d2 AS dst FROM pairs
                      UNION ALL
                      SELECT d2, d1 FROM pairs),
            verts AS (SELECT DISTINCT src AS v FROM edges),
            reach(v, u) AS (
              SELECT v, v FROM verts
              UNION
              SELECT r.v, e.dst FROM reach r JOIN edges e ON r.u = e.src),
            clusters AS (SELECT v, min(u) AS cluster FROM reach GROUP BY v),
            ranked AS (
              SELECT c.v, c.cluster,
                     row_number() OVER (
                       PARTITION BY c.cluster
                       ORDER BY len(regexp_extract_all(d.text, '[^ ]+')) DESC,
                                c.v) AS rk
              FROM clusters c JOIN documents d ON d.doc_id = c.v)
            SELECT d.doc_id FROM documents d
            WHERE NOT EXISTS (SELECT 1 FROM ranked r
                              WHERE r.v = d.doc_id AND r.rk > 1)""")),
  ) ++ moreOps

  /** Min-label propagation over the near-dup pair graph (the scalable
    * connected-components formulation: diameter-bounded rounds of hash
    * joins, per-round eager materialization). Shared by the clustering
    * query and the dedup-apply survivor selection.
    */

  /** TEXT-grain recall arm (r14, the sf10 finding) — see the scaladoc on
    * minhashTextPairs; the truth, LSH and hit counts are computed once
    * per distinct-text pair and expanded to doc-pair counts by
    * multiplicity arithmetic (a cross-text pair (A,B) contributes eA*eB
    * doc pairs; a multi-copy text contributes C(e,2) exact-duplicate
    * pairs that both arms always contain).
    */
  private[graft] def minhashRecallTextGrain(s: SparkSession,
      d: String): DataFrame = {
        // truth is computed once per DISTINCT-text pair over the
        // representative profiles — the r13 doc-grain inverted-index join
        // put multiplicity² rows per shared shingle through the
        // intersection groupBy (billions at a 100×-re-crawl) for counts
        // that are pure multiplicity arithmetic: a cross-text pair (A,B)
        // contributes eA·eB doc pairs (e = the text's docs inside the
        // %2 query subset; each unordered doc pair counts once) and a
        // multi-copy text contributes C(e,2) exact-duplicate pairs, which
        // both the truth and the LSH arm always contain (identical
        // signatures share every band; identical sets verify at jac 1).
        val profFull = shingleProfile(s, d)
        val (docsT, reps, pairsT) = minhashTextPairs(s, d,
          prof = Some(profFull))
        val evens = docsT.filter(col("doc_id") % 2 === 0)
          .groupBy(col("th")).agg(count(lit(1)).as("e"))
          .mat()
        val subReps = reps.join(evens, "th")
        // exact text-grain truth: inverted-index intersection counts over
        // representative shingle sets — group sizes scale with distinct
        // CONTENT sharing a shingle, never with copy counts
        val ex = subReps.select(col("th"), explode(col("hs")).as("x"))
        val inter = ex.as("a")
          .join(ex.as("b"), col("a.x") === col("b.x") &&
            col("a.th") < col("b.th"))
          .groupBy(col("a.th").as("t1"), col("b.th").as("t2"))
          .agg(count(lit(1)).as("ic"))
        val textTruth = inter
          .join(subReps.select(col("th").as("t1"), col("c").as("ca"),
            col("e").as("ea")), "t1")
          .join(subReps.select(col("th").as("t2"), col("c").as("cb"),
            col("e").as("eb")), "t2")
          .filter(col("ic").cast(DoubleType)
            / (col("ca") + col("cb") - col("ic")) >= 0.4)
          .select(col("t1"), col("t2"), (col("ea") * col("eb")).as("w"))
          .mat()
        // LSH arm at text grain, canonicalized to the truth's th order and
        // weighted the same way (pairsT orients by representative doc id)
        val textLsh = pairsT
          .select(least(col("t1"), col("t2")).as("t1"),
            greatest(col("t1"), col("t2")).as("t2"))
          .join(evens.select(col("th").as("t1"), col("e").as("ea")), "t1")
          .join(evens.select(col("th").as("t2"), col("e").as("eb")), "t2")
          .select(col("t1"), col("t2"), (col("ea") * col("eb")).as("w"))
          .mat()
        val sameW = evens.filter(col("e") >= 2)
          .agg(coalesce(sum(expr("e * (e - 1) div 2")), lit(0L)).as("sw"))
        val nt = textTruth.agg(coalesce(sum(col("w")), lit(0L)).as("tw"))
        val nl = textLsh.agg(coalesce(sum(col("w")), lit(0L)).as("lw"))
        val nh = textTruth.join(textLsh.select("t1", "t2"), Seq("t1", "t2"))
          .agg(coalesce(sum(col("w")), lit(0L)).as("hw"))
        nt.crossJoin(nl).crossJoin(nh).crossJoin(sameW)
          .select((col("tw") + col("sw")).as("n_truth"),
            (col("lw") + col("sw")).as("n_lsh"),
            (col("hw") + col("sw")).as("n_hit"))
          .select(col("n_truth"), col("n_lsh"), col("n_hit"),
            when(col("n_truth") === 0, lit(null).cast(DoubleType))
              .otherwise(col("n_hit").cast(DoubleType) / col("n_truth"))
              .as("recall"))
  }

  /** Doc-grain recall arm (r15 adaptive grain, multiplicity ~= 1): the
    * truth is the inverted-index intersection join directly on doc ids —
    * group sizes scale with docs sharing a shingle, safe exactly because
    * the probe bounded copy counts.
    */
  private[graft] def minhashRecallIdGrain(s: SparkSession,
      d: String): DataFrame = {
    val profFull = shingleProfile(s, d)
    val sub = profFull.filter(col("doc_id") % 2 === 0)
    val ex = sub.select(col("doc_id"), explode(col("hs")).as("x"))
    val inter = ex.as("a")
      .join(ex.as("b"), col("a.x") === col("b.x") &&
        col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id").as("d1"), col("b.doc_id").as("d2"))
      .agg(count(lit(1)).as("ic"))
    val truth = inter
      .join(sub.select(col("doc_id").as("d1"), col("c").as("ca")), "d1")
      .join(sub.select(col("doc_id").as("d2"), col("c").as("cb")), "d2")
      .filter(col("ic").cast(DoubleType)
        / (col("ca") + col("cb") - col("ic")) >= 0.4)
      .select("d1", "d2")
    val lsh = minhashPairsIdGrain(s, d, prof = Some(profFull),
      pairPred = Some((x, y) => x % 2 === 0 && y % 2 === 0))
      .select("d1", "d2")
    val nt = truth.agg(count(lit(1)).as("n_truth"))
    val nl = lsh.agg(count(lit(1)).as("n_lsh"))
    val nh = truth.join(lsh, Seq("d1", "d2"))
      .agg(count(lit(1)).as("n_hit"))
    nt.crossJoin(nl).crossJoin(nh)
      .select(col("n_truth"), col("n_lsh"), col("n_hit"),
        when(col("n_truth") === 0, lit(null).cast(DoubleType))
          .otherwise(col("n_hit").cast(DoubleType) / col("n_truth"))
          .as("recall"))
  }


  /** SimHash near-dup pairs, grain-dispatched (the query passes the
    * multiplicity probe's verdict; AdaptiveGrainSpec pins both arms).
    */
  private[graft] def simhashNearDup(s: SparkSession, d: String,
      idGrain: Boolean): DataFrame = {
        val sigs = simhashVotes(s, d)
          .select(col("doc_id"), expr(
            """aggregate(zip_with(v, sequence(0, 31),
                 (x, j) -> CASE WHEN x >= 0
                           THEN shiftleft(CAST(1 AS BIGINT), j)
                           ELSE CAST(0 AS BIGINT) END),
                 CAST(0 AS BIGINT), (a, b) -> a + b)""").as("sig"))
          .mat() // feeds both sides of the band self-join
        if (idGrain) {
          // DOC grain (r15 adaptive, multiplicity ≈ 1): band doc ids
          // directly — no signature-grain exchange, no expansion joins
          val bands = sigs
            .withColumn("b", explode(sequence(lit(0), lit(3))))
            .withColumn("bv", expr("(sig >> (8 * b)) & 255"))
          bands.as("x").join(bands.as("y"),
              col("x.b") === col("y.b") && col("x.bv") === col("y.bv") &&
                col("x.doc_id") < col("y.doc_id"))
            .select(col("x.doc_id").as("d1"), col("y.doc_id").as("d2"),
              col("x.sig").as("s1"), col("y.sig").as("s2"))
            .dropDuplicates("d1", "d2")
            .withColumn("ham", expr("bit_count(s1 ^ s2)").cast(IntegerType))
            .filter(col("ham") <= 3)
            .select("d1", "d2", "ham")
        } else {
        // DISTINCT-SIGNATURE grain (r14, the sf10 finding): docs sharing a
        // 32-bit signature share every band, so banding DOC ids is
        // quadratic in duplicate multiplicity; banding distinct signature
        // VALUES is multiplicity-free, and the doc-pair expansion is two
        // bounded equi-joins. Same-signature doc pairs are hamming-0 by
        // identity (always candidates in the doc-grain form too).
        val reps = sigs.groupBy(col("sig")).agg(min(col("doc_id")).as("rd"))
          .mat()
        val bands = reps
          .withColumn("b", explode(sequence(lit(0), lit(3))))
          .withColumn("bv", expr("(sig >> (8 * b)) & 255"))
        val candS = bands.as("x").join(bands.as("y"),
            col("x.b") === col("y.b") && col("x.bv") === col("y.bv") &&
              col("x.rd") < col("y.rd"))
          .select(col("x.sig").as("s1"), col("y.sig").as("s2"))
          .distinct()
        val pairS = candS
          .withColumn("ham", expr("bit_count(s1 ^ s2)").cast(IntegerType))
          .filter(col("ham") <= 3)
        val cross = pairS
          .join(sigs.select(col("sig").as("s1"), col("doc_id").as("i")),
            "s1")
          .join(sigs.select(col("sig").as("s2"), col("doc_id").as("j")),
            "s2")
          .select(least(col("i"), col("j")).as("d1"),
            greatest(col("i"), col("j")).as("d2"), col("ham"))
        val same = sigs.as("x").join(sigs.as("y"),
            col("x.sig") === col("y.sig") &&
              col("x.doc_id") < col("y.doc_id"))
          .select(col("x.doc_id").as("d1"), col("y.doc_id").as("d2"),
            lit(0).cast(IntegerType).as("ham"))
        cross.unionByName(same)
        }
  }

  /** Pair graphs below this edge count run the label loop single-
    * partition: each round is two hash joins + an aggregation, and at
    * session parallelism a tiny graph pays 32-partition exchange/
    * scheduling floors per round (r15: ~0.4 s of the sf0.1 dedup_clusters
    * row was pure round overhead). A billion-edge graph keeps the
    * partitioned shape unchanged.
    */
  private val MinLabelSmallEdges = 2000000L

  /** Below this edge count the component labels are computed DRIVER-SIDE
    * (path-compressed union-find over the collected edge list) instead of
    * by the iterative join loop. The pair graph is bounded by the
    * near-dup rate — orders of magnitude smaller than the corpus — and
    * the gate tests the MEASURED pair count (the sizing count that
    * realizes the one pair checkpoint), so the collect is bounded by
    * construction: ≤200k edges ≈ tens of MB, the same driver footprint
    * class as a broadcast-join build (which Spark itself collects), and
    * the same bounded-collect pattern as the PqCodes codebook (r16).
    * Replaces O(diameter) rounds of join+aggregate jobs with one collect
    * and a broadcast join-back; the partitioned loop is unchanged for
    * larger graphs. Differential spec pins both arms identical.
    */
  private val MinLabelDriverEdges = 200000L

  // test hook: the differential spec forces the loop arm on a graph the
  // driver arm would otherwise take, proving both arms produce identical
  // labels
  private[graft] var minLabelDriverMaxEdges: Option[Long] = None

  /** Driver-side min-label connected components: collect the (bounded)
    * vertex and edge lists, run union-find with path compression, label
    * every component with the MIN initial label of its members —
    * bit-identical to the loop arm's converged labels (both compute the
    * same function: per component, the minimum over members' initial
    * labels). Returns a LOCAL relation (broadcastable by construction)
    * with labels0's exact schema.
    */
  private def minLabelDriver(labels0: DataFrame,
      edges: DataFrame): DataFrame = {
    val spark = labels0.sparkSession
    val schema = labels0.schema
    val lab = labels0.collect()
    val es = edges.collect()
    val idx = new java.util.HashMap[Any, Integer](lab.length * 2)
    var n = 0
    lab.foreach { r =>
      if (idx.putIfAbsent(r.get(0), n) == null) n += 1
    }
    val parent = Array.tabulate(n)(identity)
    def find(x: Int): Int = {
      var root = x
      while (parent(root) != root) root = parent(root)
      var c = x
      while (parent(c) != c) { val nx = parent(c); parent(c) = root; c = nx }
      root
    }
    es.foreach { r =>
      // endpoints are labels0 vertices by construction in both grain arms
      // (id grain: labels0 = distinct edge endpoints; text grain: verts
      // unions the pair endpoints) — a miss here is a bug, not data
      val a = idx.get(r.get(0)); val b = idx.get(r.get(1))
      require(a != null && b != null,
        "minLabelDriver: edge endpoint missing from the vertex set")
      val ra = find(a); val rb = find(b)
      if (ra != rb) parent(rb) = ra
    }
    val minL = new Array[Long](n)
    java.util.Arrays.fill(minL, Long.MaxValue)
    lab.foreach { r =>
      val c = find(idx.get(r.get(0)))
      val l = r.getLong(1)
      if (l < minL(c)) minL(c) = l
    }
    val rows = new java.util.ArrayList[org.apache.spark.sql.Row](lab.length)
    lab.foreach { r =>
      rows.add(org.apache.spark.sql.Row(r.get(0), minL(find(idx.get(r.get(0))))))
    }
    spark.createDataFrame(rows, schema)
  }

  /** Min-label propagation to convergence, shared by both grain arms:
    * rounds of neighbor-min hash joins over (v, l) labels with per-round
    * materialization, a label-sum fixpoint test, and a loud failure
    * on non-convergence (a silent intermediate answer would diverge from
    * the recursive oracle). O(component diameter) rounds.
    *
    * r17 job-count diet: callers pass `nEdges` (already known from sizing
    * the materialized pair frame) plus edge/label frames that derive
    * NARROWLY from that one checkpoint, and every per-round checkpoint is
    * LAZY — the fixpoint aggregation that follows it materializes the
    * round's labels and computes the sum in ONE job, where the r16 shape
    * paid an eager-checkpoint pass PLUS the sum pass per round (and three
    * eager materializations of the same tiny pair frame before round 1).
    */
  private def minLabelLoop(labels0: DataFrame, edges: DataFrame,
      nEdges: Long): DataFrame = {
    // Small graphs skip the distributed fixpoint entirely (see
    // MinLabelDriverEdges): every labelSum round is join+aggregate jobs
    // whose scheduling floor dominates at this graph scale
    if (nEdges <= minLabelDriverMaxEdges.getOrElse(MinLabelDriverEdges))
      return minLabelDriver(labels0, edges)
    // Size the loop's parallelism to the GRAPH, not the session default:
    // the pair graph is bounded by the near-dup rate — orders of
    // magnitude smaller than the corpus it came from (see
    // MinLabelSmallEdges). Callers coalesce the pair checkpoint the
    // edges derive from; labels fold to one partition here.
    var labels = (if (nEdges < MinLabelSmallEdges) labels0.repartition(1)
                  else labels0)
      .mat(eager = false)
    // coalesce: sum over an EMPTY vertex set (no near-dup pairs at all)
    // is NULL — the loop must see 0, not NPE on the unbox
    def labelSum(): Long = labels
      .agg(coalesce(org.apache.spark.sql.functions.sum("l"), lit(0L)))
      .first().getLong(0)
    val maxRounds = 50
    var prevSum = -1L
    var sum = labelSum()
    var rounds = 0
    while (sum != prevSum && rounds < maxRounds) { // converges in O(diameter)
      val nbrMin = edges.join(labels, edges("dst") === labels("v"))
        .groupBy(edges("src").as("nv")).agg(min(col("l")).as("nl"))
      labels = labels.join(nbrMin, labels("v") === nbrMin("nv"), "left")
        .select(col("v"), least(col("l"), coalesce(col("nl"), col("l"))).as("l"))
        .mat(eager = false) // materialized by the labelSum below
      prevSum = sum
      sum = labelSum()
      rounds += 1
    }
    require(sum == prevSum,
      s"label propagation did not converge in $maxRounds rounds")
    labels
  }

  /** Doc-grain clustering arm (r15 adaptive grain, multiplicity ≈ 1):
    * vertices and edges straight off the id-grain pair stream. ONE
    * materialization of the expensive pair pipeline (lazy checkpoint,
    * realized by the sizing count); edges and initial labels re-derive
    * narrowly from it per round — single-task block reads once the
    * small-graph coalesce(1) has folded the checkpoint.
    */
  private[graft] def dedupClustersIdGrain(s: SparkSession,
      d: String, prof: Option[DataFrame] = None): DataFrame = {
    val p0 = minhashPairsIdGrain(s, d, prof = prof)
      .select("d1", "d2").mat(eager = false)
    val nPairs = p0.count() // materializes the lazy checkpoint
    val p = if (2 * nPairs < MinLabelSmallEdges) p0.coalesce(1) else p0
    val edges = p.unionByName(
      p.select(col("d2").as("d1"), col("d1").as("d2")))
      .toDF("src", "dst")
    val labels0 = edges.select(col("src").as("v")).distinct()
      .withColumn("l", col("v"))
    minLabelLoop(labels0, edges, 2 * nPairs)
      .select(col("v").as("doc_id"), col("l").as("cluster"))
  }

  /** `prof`: a caller that already materialized the shingle profile (the
    * full-curation pipeline needs it AGAIN for decontamination) passes it
    * in — one profile checkpoint instead of two (r16).
    */
  private[queries] def dedupClusters(s: SparkSession, d: String,
      prof: Option[DataFrame] = None): DataFrame =
    if (textIdGrainOk(s, d)) dedupClustersIdGrain(s, d, prof)
    else dedupClustersTextGrain(s, d, prof)

  private[graft] def dedupClustersTextGrain(s: SparkSession,
      d: String, prof: Option[DataFrame] = None): DataFrame = {
        // TEXT-grain label propagation (r14, the sf10 finding): vertices
        // are distinct TEXTS in any near-dup relation — cross-text
        // (pairsT) or multi-copy (≥2 docs share the text, a clique in the
        // doc graph). The r13 loop propagated over doc-grain edges, whose
        // count is quadratic in duplicate multiplicity (a 100×-re-crawl
        // means 100² edges per text pair, per iteration); the text graph
        // is multiplicity-free and the docs join the converged component
        // label once at the end. The result is IDENTICAL to the doc-grain
        // components: same-text docs are glued by construction, and the
        // component's min doc_id equals the min over member texts'
        // min-doc representatives (labels init to the text's rd).
        val (docsT0, reps, pairsT) = minhashTextPairs(s, d, prof = prof)
        // docsT lazy: the first loop job (which derives labels0 through
        // multi/verts) persists it; the final expansion join re-reads the
        // blocks. pairs: one materialization (realized by the sizing
        // count), coalesced to the graph's scale; edges/verts re-derive
        // narrowly from it (r17 — the r16 shape ran three extra eager
        // checkpoint jobs here before the first round).
        val docsT = docsT0.mat(eager = false)
        val p0 = pairsT.select(col("t1"), col("t2")).mat(eager = false)
        val nPairs = p0.count() // materializes the lazy checkpoint
        val p = if (2 * nPairs < MinLabelSmallEdges) p0.coalesce(1) else p0
        val multi = docsT.groupBy(col("th")).agg(count(lit(1)).as("n"))
          .filter(col("n") >= 2).select(col("th"))
        val verts = p.select(col("t1").as("th"))
          .unionByName(p.select(col("t2").as("th")))
          .unionByName(multi).distinct()
        val edges = p.select(col("t1").as("src"), col("t2").as("dst"))
          .unionByName(p.select(col("t2").as("src"), col("t1").as("dst")))
        val labels0 = verts
          .join(reps.select(col("th"), col("rd")), "th")
          .select(col("th").as("v"), col("rd").as("l"))
        val labels = minLabelLoop(labels0, edges, 2 * nPairs)
        // every doc of a labeled text gets the component label (the only
        // multiplicity-sized step, and it is one equi-join)
        docsT.join(labels, docsT("th") === labels("v"))
          .select(col("doc_id"), col("l").as("cluster"))
  }

  // def, not val: `all` initializes before this point in the object body
  private def moreOps: Seq[(String, Q, Option[String])] = Seq(

    // SimHash: 32-bit weighted-vote signature from token md5 bits. Hamming
    // bucketing on the signature gives near-dup candidates at scale.
    // Cost shape: the 32 bit-values are derived once per distinct token
    // (vocabulary) as an array; per-doc votes are an element-wise integer
    // array sum — exact and order-independent, so identical to the oracle's
    // naive per-(doc,token,bit) formulation.
    ("llm_simhash",
      (s, d) => simhashVotes(s, d)
        .select(col("doc_id"), expr(
          "array_join(transform(v, x -> CASE WHEN x >= 0 THEN '1' ELSE '0' END), '')")
          .as("sig")),
      Some("WITH " + simhashVotesSql + """
              SELECT doc_id,
                     string_agg(CASE WHEN v >= 0 THEN '1' ELSE '0' END, ''
                                ORDER BY j) AS sig
              FROM bits GROUP BY doc_id""")),

    // SimHash near-dup JOIN: 32-bit integer signature, banded into 4 bytes.
    // Pigeonhole completeness: a pair at hamming ≤ 3 flips at most 3 of the
    // 4 bytes, so it MUST share one exact byte — candidate generation (a
    // shuffle on (band, byte), never all-pairs) provably misses nothing at
    // the threshold. Exact Hamming via bit_count(xor) on candidates only.
    ("llm_simhash_neardup",
      (s, d) => simhashNearDup(s, d, textIdGrainOk(s, d)),
      Some("WITH " + simhashVotesSql + """,
              sig AS (
                SELECT doc_id,
                       SUM(CASE WHEN v >= 0
                           THEN CAST(1 AS BIGINT) << CAST(j AS INTEGER)
                           ELSE 0 END) AS sig
                FROM bits GROUP BY doc_id),
              bands AS (
                SELECT doc_id, sig, b, (sig >> (8 * CAST(b AS INTEGER))) & 255 AS bv
                FROM sig, generate_series(0, 3) t(b)),
              cand AS (
                SELECT DISTINCT x.doc_id AS d1, y.doc_id AS d2,
                                x.sig AS s1, y.sig AS s2
                FROM bands x JOIN bands y
                  ON x.b = y.b AND x.bv = y.bv AND x.doc_id < y.doc_id)
              SELECT d1, d2, CAST(bit_count(xor(s1, s2)) AS INTEGER) AS ham
              FROM cand WHERE bit_count(xor(s1, s2)) <= 3""")),

    // Brute-force cosine top-k (the correctness baseline for ANN; the scale
    // path is the banded variant in graft.llm.Similarity). zip_with +
    // aggregate keep the dot product inside codegen — no UDF, no explode.
    ("llm_cosine_topk",
      (s, d) => graft.llm.Similarity.bruteTopK(embeddings(s, d),
        col("vec_id") < AnnQueryBound, k = 5, roundScale = 4),
      Some(graft.llm.Similarity.bruteOracleSql(
        k = 5, roundScale = 4, queryIdBound = AnnQueryBound))),

    // ANN RECALL@k — the measurement that tunes every approximate index:
    // the IVF result set scored against the exhaustive baseline, per
    // query. This is how nProbe/nLists get chosen at 100 TB — run the
    // brute force on a bounded query sample, the candidate index on the
    // same sample, and read recall off the join; both sides and the
    // intersection are deterministic (shared rounding + tiebreaks), so
    // the whole measurement is hash-gated.
    ("llm_ann_recall",
      (s, d) => recallQuery(s, d, e0 =>
        graft.llm.Similarity.ivfTopKFixed(embeddings(s, d),
          col("vec_id") < AnnQueryBound, nCentroids = 8, nProbe = 3,
          k = AnnRecallK, roundScale = 4, ePre = Some(e0))),
      Some(recallOracleSql(graft.llm.Similarity.ivfFixedOracleSql(
        dims = 64, nCentroids = 8, nProbe = 3, k = AnnRecallK,
        roundScale = 4, queryIdBound = AnnQueryBound)))),

    // LSH-bucketed ANN join — the 100 TB path: candidates from a shuffle on
    // (table, signature) bucket, exact cosine only within buckets. The
    // oracle SQL is generated from the identical hyperplane family.
    ("llm_ann_lsh",
      (s, d) => graft.llm.Similarity.annTopK(embeddings(s, d),
        col("vec_id") < AnnQueryBound, dims = 64, nBits = 4, nTables = 2,
        k = 5, roundScale = 4),
      Some(graft.llm.Similarity.annOracleSql(
        dims = 64, nBits = 4, nTables = 2, k = 5, roundScale = 4,
        queryIdBound = AnnQueryBound))),

    // n-gram Jaccard similarity join, bucketed by rare shingles: docs
    // sharing a low-frequency shingle become candidates, exact Jaccard on
    // candidates only (a frequency-filtered inverted index — the classic
    // way to bound candidate generation without MinHash).
    ("llm_ngram_jaccard",
      (s, d) => {
        // signature-free profile: the Jaccard path needs hs/c only
        val ds = shingleProfile(s, d, withSignature = false)
        // rare-shingle inverted index in ONE pass with BOUNDED aggregation
        // state: collect_bounded(doc_id, 4) (graft.functions
        // .CollectBoundedLongs) gathers each shingle's doc set but
        // saturates at 5 distinct docs — a stop shingle costs 5 longs of
        // buffer and returns NULL, never its full posting list (the
        // unbounded-state hazard ADVICE r6 flagged). This fuses the r8
        // two-pass form (count per shingle → join survivors back →
        // collect_set) into a single exchange and a single scan of the
        // posting stream; map-side partial aggregation saturates early,
        // so shuffle payload per distinct shingle is ≤5 longs at any
        // corpus size. Each kept bucket expands to at most C(4,2)=6
        // pairs inside the row.
        val inv = ds.select(col("doc_id"), explode(col("hs")).as("x"))
        val cand = inv.groupBy("x")
          .agg(expr("collect_bounded(doc_id, 4)").as("dset"))
          .filter(size(col("dset")).between(2, 4))
          .select(explode(expr(
            """flatten(transform(dset,
                 a -> filter(transform(dset, b -> struct(a AS d1, b AS d2)),
                             p -> p.d1 < p.d2)))""")).as("p"))
          .select(col("p.d1").as("d1"), col("p.d2").as("d2")).distinct()
        // exact Jaccard via two hash joins + narrow array_intersect over
        // the 60-bit code sets (the oracle mirrors the same mapping, so a
        // never-observed collision cannot diverge the gate). Candidates are
        // the broadcast build side (see minhashPairs) — the profile's
        // shingle sets stay put.
        broadcast(cand)
          .join(ds.select(col("doc_id").as("d1"), col("hs").as("hs1"),
            col("c").as("ca")), "d1")
          .hint("broadcast")
          .join(ds.select(col("doc_id").as("d2"), col("hs").as("hs2"),
            col("c").as("cb")), "d2")
          .withColumn("ic", size(array_intersect(col("hs1"), col("hs2"))))
          .select(col("d1"), col("d2"),
            (col("ic").cast(DoubleType) / (col("ca") + col("cb") - col("ic"))).as("jac"))
          .filter(col("jac") >= 0.3)
      },
      Some("WITH " + shingleSql + """,
            shx AS (SELECT DISTINCT doc_id,
                           CAST(concat('0x', substr(md5(s), 1, 15)) AS BIGINT)
                             AS x
                    FROM sh),
            rare AS (SELECT x
                     FROM (SELECT x, count(*) AS f
                           FROM shx GROUP BY x)
                     WHERE f BETWEEN 2 AND 4),
            cand AS (
              SELECT DISTINCT a.doc_id AS d1, b.doc_id AS d2
              FROM (SELECT shx.doc_id, shx.x FROM shx JOIN rare ON shx.x = rare.x) a
              JOIN (SELECT shx.doc_id, shx.x FROM shx JOIN rare ON shx.x = rare.x) b
                ON a.x = b.x AND a.doc_id < b.doc_id),
            cnt AS (SELECT doc_id, count(*) AS c FROM shx GROUP BY 1),
            inter AS (
              SELECT cand.d1, cand.d2, count(*) AS ic
              FROM cand
              JOIN shx s1 ON s1.doc_id = cand.d1
              JOIN shx s2 ON s2.doc_id = cand.d2 AND s1.x = s2.x
              GROUP BY 1, 2)
            SELECT d1, d2, CAST(ic AS DOUBLE) / (ca.c + cb.c - ic) AS jac
            FROM inter
            JOIN cnt ca ON ca.doc_id = d1
            JOIN cnt cb ON cb.doc_id = d2
            WHERE CAST(ic AS DOUBLE) / (ca.c + cb.c - ic) >= 0.3""")),

    // IVF ANN (LEARNED k-means inverted lists, nProbe probing) — the second
    // scale path next to LSH. Fully oracled since r8: the 8 Lloyd's
    // iterations over the bounded md5-ordered sample unroll as chained CTEs
    // in DuckDB (centroids snapped to a 1e-6 grid in both engines — see
    // Similarity.lloyd / ivfOracleSql); recall vs brute force additionally
    // asserted in LlmSpec.
    ("llm_ann_ivf",
      (s, d) => graft.llm.Similarity.ivfTopK(embeddings(s, d),
        col("vec_id") < AnnQueryBound, nLists = 8, nProbe = 3, k = 5,
        roundScale = 4),
      Some(graft.llm.Similarity.ivfOracleSql(
        dims = 64, nLists = 8, nProbe = 3, k = 5, roundScale = 4,
        queryIdBound = AnnQueryBound))),

    // K-MEANS cluster profile — the IVF quantizer surfaced as the
    // corpus/domain-discovery operator (SemDeDup-style clustering, mixture
    // balancing by embedding cluster): same bounded-sample Lloyd's
    // training and narrow-map assignment, aggregated to per-cluster size
    // and mean squared distance on exact micro-snapped longs.
    ("llm_kmeans_profile",
      (s, d) => graft.llm.Similarity.kmeansProfile(embeddings(s, d),
        nLists = 8),
      Some(graft.llm.Similarity.kmeansProfileSql(dims = 64, nLists = 8))),

    // SemDeDup — semantic near-dup pairs bounded by the k-means cluster
    // assignment (within-cluster cosine only): the third dedup candidate
    // generator next to MinHash-LSH (token shingles) and hyperplane-LSH
    // buckets, and the one that scales by CHOOSING the cluster count.
    ("llm_semdedup",
      (s, d) => graft.llm.Similarity.semDedupPairs(embeddings(s, d),
        nLists = 8, tau = 0.2, roundScale = 4),
      Some(graft.llm.Similarity.semDedupPairsSql(
        dims = 64, nLists = 8, tau = 0.2, roundScale = 4))),

    // IVF with fixed deterministic centroids — the same assign → probe →
    // rank pipeline as llm_ann_ivf but with the trivial quantizer
    // (embeddings of vec_id < nCentroids), kept as the simpler-to-audit
    // oracle precedent next to the learned arm.
    ("llm_ann_ivf_fixed",
      (s, d) => graft.llm.Similarity.ivfTopKFixed(embeddings(s, d),
        col("vec_id") < AnnQueryBound, nCentroids = 8, nProbe = 3, k = 5,
        roundScale = 4),
      Some(graft.llm.Similarity.ivfFixedOracleSql(
        dims = 64, nCentroids = 8, nProbe = 3, k = 5, roundScale = 4,
        queryIdBound = AnnQueryBound))),

    // Product-quantization ANN (ADC scan + exact refine) with fixed
    // deterministic codebooks — the compressed-domain scale path next to
    // LSH and IVF: the estimate scan touches m bytes per vector instead of
    // dims·4, the refine re-ranks only a bounded shortlist. Full oracle
    // (same fixed-quantizer pattern as llm_ann_ivf_fixed).
    ("llm_ann_pq",
      (s, d) => graft.llm.Similarity.pqTopKFixed(embeddings(s, d),
        col("vec_id") < AnnQueryBound, dims = 64, m = 8, ksub = 16,
        shortlist = 60, k = 5, roundScale = 4),
      Some(graft.llm.Similarity.pqFixedOracleSql(
        dims = 64, m = 8, ksub = 16, shortlist = 60, k = 5, roundScale = 4,
        queryIdBound = AnnQueryBound))),

    // IVF-PQ composition — the billion-vector index shape end to end:
    // coarse-list pruning, then the compressed-domain ADC estimate over
    // codes WITHIN the probed lists only, then the exact refine. Fully
    // oracled since r8 (the ivf_fixed and pq CTE chains composed).
    ("llm_ann_ivfpq",
      (s, d) => graft.llm.Similarity.ivfPqTopKFixed(embeddings(s, d),
        col("vec_id") < AnnQueryBound, nCentroids = 8, nProbe = 3, dims = 64,
        m = 8, ksub = 16, shortlist = 40, k = 5, roundScale = 4),
      Some(graft.llm.Similarity.ivfPqFixedOracleSql(
        dims = 64, nCentroids = 8, nProbe = 3, m = 8, ksub = 16,
        shortlist = 40, k = 5, roundScale = 4,
        queryIdBound = AnnQueryBound))),

    // HARD-NEGATIVE MINING (contrastive-training prep — the per-query
    // nearest neighbors of a DIFFERENT class, the examples that teach an
    // embedding model the decision boundary): the brute-force cosine
    // shape restricted to cross-label pairs before ranking, so the top-k
    // is over negatives only. At scale the same restriction composes
    // with the IVF/LSH candidate generators exactly as the recall rows
    // compose their arms; the label filter rides INTO the join, never
    // after the rank.
    ("llm_hard_negatives",
      (s, d) => {
        val e = embeddings(s, d).select(col("vec_id"), col("label"),
          expr("transform(embedding, x -> CAST(x AS DOUBLE))").as("v"))
        val withNorm = e.withColumn("nrm", expr("sqrt(vec_dot(v, v))"))
        val q = withNorm.filter(col("vec_id") < AnnQueryBound)
          .select(col("vec_id").as("qid"), col("label").as("ql"),
            col("v").as("qv"), col("nrm").as("qn"))
        val c = withNorm.select(col("vec_id").as("cid"),
          col("label").as("cl"), col("v").as("cv"), col("nrm").as("cn"))
        val scored = q.join(c,
            col("qid") =!= col("cid") && col("ql") =!= col("cl"))
          .withColumn("cos_r",
            round(expr("vec_dot(qv, cv)") / (col("qn") * col("cn")), 4))
        val w = Window.partitionBy("qid")
          .orderBy(col("cos_r").desc, col("cid"))
        scored.withColumn("rn", row_number().over(w))
          .filter(col("rn") <= 5)
          .select(col("qid"), col("ql").as("q_label"), col("cid"),
            col("cl").as("neg_label"), col("cos_r"),
            col("rn").cast(IntegerType).as("rn"))
      },
      Some(s"""WITH e AS (
                SELECT vec_id, i, CAST(embedding[i] AS DOUBLE) AS x
                FROM (SELECT vec_id, embedding,
                             unnest(generate_series(1, len(embedding)))
                               AS i
                      FROM embeddings) t),
              n AS (SELECT vec_id, sqrt(SUM(x * x)) AS nrm
                    FROM e GROUP BY 1),
              lb AS (SELECT vec_id, label FROM embeddings),
              dots AS (
                SELECT q.vec_id AS qid, c.vec_id AS cid,
                       SUM(q.x * c.x) AS dot
                FROM e q JOIN e c
                  ON q.i = c.i AND q.vec_id < $AnnQueryBound
                 AND c.vec_id <> q.vec_id
                GROUP BY 1, 2),
              scored AS (
                SELECT qid, lq.label AS q_label, cid,
                       lc.label AS neg_label,
                       round(dot / (nq.nrm * nc.nrm), 4) AS cos_r
                FROM dots
                JOIN n nq ON nq.vec_id = qid
                JOIN n nc ON nc.vec_id = cid
                JOIN lb lq ON lq.vec_id = qid
                JOIN lb lc ON lc.vec_id = cid
                WHERE lq.label <> lc.label)
              SELECT qid, q_label, cid, neg_label, cos_r,
                     CAST(rn AS INTEGER) AS rn
              FROM (SELECT *, row_number() OVER (PARTITION BY qid
                                 ORDER BY cos_r DESC, cid) AS rn
                    FROM scored) t
              WHERE rn <= 5""")),

    // ANN RECALL@k for the COMPRESSED arm — llm_ann_recall's twin over
    // the full IVF-PQ pipeline (coarse pruning + ADC estimate +
    // shortlist refine): quantization error now shows up in the metric,
    // which is exactly how shortlist size and codebook bits get tuned.
    // Same bounded-query-sample protocol, same deterministic
    // intersection, fully hash-gated.
    ("llm_ivfpq_recall",
      (s, d) => recallQuery(s, d, e0 =>
        graft.llm.Similarity.ivfPqTopKFixed(embeddings(s, d),
          col("vec_id") < AnnQueryBound, nCentroids = 8, nProbe = 3,
          dims = 64, m = 8, ksub = 16, shortlist = 40, k = AnnRecallK,
          roundScale = 4, ePre = Some(e0))),
      Some(recallOracleSql(graft.llm.Similarity.ivfPqFixedOracleSql(
        dims = 64, nCentroids = 8, nProbe = 3, m = 8, ksub = 16,
        shortlist = 40, k = AnnRecallK, roundScale = 4,
        queryIdBound = AnnQueryBound)))),

    // Embedding-cosine near-dup pairs above a similarity threshold —
    // the dedup-flavored companion of llm_ann_lsh (same LSH candidates).
    ("llm_embed_neardup",
      (s, d) => graft.llm.Similarity.nearDupPairs(embeddings(s, d),
        dims = 64, nBits = 4, nTables = 2, tau = 0.2, roundScale = 4,
        idGrain = vecIdGrainOk(s, d)),
      Some(graft.llm.Similarity.nearDupOracleSql(
        dims = 64, nBits = 4, nTables = 2, tau = 0.2, roundScale = 4))),

    // Token counting: whitespace tokens + regex word tokens + char length
    ("llm_token_count",
      (s, d) => documents(s, d).select(col("doc_id"),
        expr("token_runs(text)").as("n_tok_ws"),
        size(regexp_extract_all(col("text"), lit("[a-z0-9]+"), lit(0))).as("n_tok_re"),
        length(col("text")).as("n_chars_calc")),
      Some("""SELECT doc_id,
                     CAST(len(regexp_extract_all(text, '[^ ]+')) AS INTEGER) AS n_tok_ws,
                     CAST(len(regexp_extract_all(text, '[a-z0-9]+')) AS INTEGER) AS n_tok_re,
                     CAST(length(text) AS INTEGER) AS n_chars_calc
              FROM documents""")),

    // Quality scoring: length / stopword signals, exact integer-derived math
    ("llm_quality_score",
      (s, d) => documents(s, d)
        .withColumn("n_chars_calc", length(col("text")))
        .withColumn("n_tok", expr("token_runs(text)"))
        .withColumn("n_stop", size(regexp_extract_all(col("text"), lit(" the "), lit(0))))
        .withColumn("n_punct", size(regexp_extract_all(col("text"), lit("[.,;:!?]"), lit(0))))
        .withColumn("avg_word_len", col("n_chars_calc").cast(DoubleType) / col("n_tok"))
        .withColumn("stop_ratio", col("n_stop").cast(DoubleType) / col("n_tok"))
        .withColumn("punct_ratio", col("n_punct").cast(DoubleType) / col("n_chars_calc"))
        // no round(): both engines evaluate the identical IEEE expression on
        // identical operands, so the raw double already matches bit-for-bit;
        // rounding would *introduce* ties at the half-ulp boundary.
        .withColumn("score",
          lit(0.5) * least(lit(1.0), col("avg_word_len") / 10)
            + lit(0.5) * least(lit(1.0), col("stop_ratio") * 10))
        .select("doc_id", "n_tok", "n_stop", "avg_word_len", "stop_ratio",
          "punct_ratio", "score"),
      Some("""SELECT doc_id, CAST(n_tok AS INTEGER) AS n_tok,
                     CAST(n_stop AS INTEGER) AS n_stop,
                     CAST(n_chars_calc AS DOUBLE) / n_tok AS avg_word_len,
                     CAST(n_stop AS DOUBLE) / n_tok AS stop_ratio,
                     CAST(n_punct AS DOUBLE) / n_chars_calc AS punct_ratio,
                     0.5 * least(1.0, (CAST(n_chars_calc AS DOUBLE) / n_tok) / 10)
                       + 0.5 * least(1.0, (CAST(n_stop AS DOUBLE) / n_tok) * 10) AS score
              FROM (SELECT doc_id, length(text) AS n_chars_calc,
                           len(regexp_extract_all(text, '[^ ]+')) AS n_tok,
                           len(regexp_extract_all(text, ' the ')) AS n_stop,
                           len(regexp_extract_all(text, '[.,;:!?]')) AS n_punct
                    FROM documents) t""")),

    // Language ID: marker-token scoring with deterministic priority
    // tiebreak. The four \b-delimited marker counts come from ONE
    // codegen'd text walk (functions.MarkerCounts — bit-equality vs the
    // composed regexp battery asserted in NarrowStatsSpec); the r12 shape
    // ran 4 regex scans per document and measured 3.4× the oracle at sf1.
    ("llm_langid",
      (s, d) => {
        documents(s, d)
          .withColumn("mc", call_function("marker_counts", col("text"),
            array(lit("the"), lit("sort"), lit("merge"), lit("join"))))
          .withColumn("c_en", col("mc")(0))
          .withColumn("c_es", col("mc")(1))
          .withColumn("c_de", col("mc")(2))
          .withColumn("c_fr", col("mc")(3))
          .withColumn("lang_pred",
            when(col("c_en") >= greatest(col("c_es"), col("c_de"), col("c_fr"))
              && col("c_en") > 0, "en")
              .when(col("c_es") >= greatest(col("c_de"), col("c_fr"))
                && col("c_es") > 0, "es")
              .when(col("c_de") >= col("c_fr") && col("c_de") > 0, "de")
              .when(col("c_fr") > 0, "fr")
              .otherwise("zh"))
          .select(col("doc_id"), col("lang").as("lang_actual"), col("lang_pred"))
      },
      Some("""SELECT doc_id, lang AS lang_actual,
                     CASE WHEN c_en >= greatest(c_es, c_de, c_fr) AND c_en > 0 THEN 'en'
                          WHEN c_es >= greatest(c_de, c_fr) AND c_es > 0 THEN 'es'
                          WHEN c_de >= c_fr AND c_de > 0 THEN 'de'
                          WHEN c_fr > 0 THEN 'fr'
                          ELSE 'zh' END AS lang_pred
              FROM (SELECT doc_id, lang,
                           len(regexp_extract_all(text, '\bthe\b')) AS c_en,
                           len(regexp_extract_all(text, '\bsort\b')) AS c_es,
                           len(regexp_extract_all(text, '\bmerge\b')) AS c_de,
                           len(regexp_extract_all(text, '\bjoin\b')) AS c_fr
                    FROM documents) t""")),

    // Document fingerprinting, two flavors in one narrow map (NO shuffle —
    // set ops happen inside array expressions, not explode+groupBy):
    //  fp — md5 over the sorted distinct token set (order-insensitive)
    //  rh — polynomial rolling hash over the token SEQUENCE (order-
    //       sensitive): each token contributes an md5-derived code, so the
    //       fold reflects FULL token content, not surface features like
    //       length. acc folds as a string because DuckDB's list_reduce
    //       seeds from the first element, so both engines run the same
    //       string-fold.
    ("llm_fingerprint",
      (s, d) => documents(s, d).select(col("doc_id"),
        md5(array_join(array_sort(array_distinct(split(col("text"), " "))), ","))
          .as("fp"),
        // r16: the rh fold ran INTERPRETED with a string accumulator —
        // per token it allocated the split token, the md5 hex string, two
        // substrings and round-tripped acc through CAST(STRING)/
        // CAST(BIGINT) (4.0 s at sf1, 1.7× the DuckDB twin of the same
        // fold). token_roll_hash walks the raw UTF-8 bytes once with a
        // long accumulator — same per-token md5-byte code, same mod-1e9+7
        // fold, bit-identical (TokenRollHashSpec differential vs the
        // composed form over the corpus + unicode/edge cases)
        expr("token_roll_hash(text)").as("rh")),
      Some("""SELECT doc_id,
                     md5(array_to_string(list_sort(list_distinct(
                         string_split(text, ' '))), ',')) AS fp,
                     CAST(list_reduce(
                            ['0'] || list_filter(string_split(text, ' '),
                                                 t -> t <> ''),
                            (acc, t) -> CAST((CAST(acc AS BIGINT) * 131
                               + (strpos('0123456789abcdef', substr(md5(t), 1, 1)) - 1) * 16
                               + strpos('0123456789abcdef', substr(md5(t), 2, 1)) - 1)
                                             % 1000000007 AS VARCHAR))
                          AS BIGINT) AS rh
              FROM documents""")),

    // GLOBAL TOP-K NGRAMS — the corpus-statistics table every tokenizer /
    // filter-threshold decision starts from: trigram counts, top 20 by
    // (count desc, gram asc). The plan is the scalable global top-k:
    // hash-aggregate per trigram (map-side partials bound each task's
    // output by |vocab|³), then TakeOrderedAndProject — per-partition
    // top-20 heaps merged on the driver, never a global sort of the
    // aggregate stream. Dedupe-first: gram extraction depends only on
    // TEXT and crawl corpora are copy-heavy (the sf1 regime: 10 verbatim
    // copies per doc), so the split+explode pass runs once per distinct
    // text and each gram carries the text's copy count as its weight —
    // Σ weights is exactly count(*), while the expensive fan-out scales
    // with distinct content, not row count.
    ("llm_topk_ngrams",
      (s, d) => documents(s, d)
        .groupBy(col("text")).agg(count(lit(1)).as("c"))
        .select(split(col("text"), " ").as("l"), col("c"))
        .filter(size(col("l")) >= 3)
        .select(explode(expr(
          """transform(sequence(1, size(l) - 2),
               i -> concat_ws(' ', slice(l, i, 3)))""")).as("gram"),
          col("c"))
        .groupBy("gram").agg(sum(col("c")).as("n"))
        .orderBy(col("n").desc, col("gram"))
        .limit(20),
      Some("""SELECT gram, count(*) AS n
              FROM (SELECT concat(l[i], ' ', l[i+1], ' ', l[i+2]) AS gram
                    FROM (SELECT l, unnest(generate_series(1, len(l) - 2))
                                 AS i
                          FROM (SELECT string_split(text, ' ') AS l
                                FROM documents) x
                          WHERE len(l) >= 3) t) g
              GROUP BY gram
              ORDER BY n DESC, gram
              LIMIT 20""")),

    // WINNOWING (Schleimer/Wilkerson/Aiken 2003, the MOSS fingerprint):
    // per position, hash the 4-gram; per sliding window of 5 hashes, keep
    // the MINIMUM — the guarantee is any shared run ≥ 8 tokens shares a
    // fingerprint, at ~1/5 the storage of all-grams. Pairs of documents
    // sharing ≥ 3 distinct fingerprints are the local-overlap candidates
    // span dedup at a fixed stride can miss (winnowing is offset-
    // invariant). Scale shape: per-doc fingerprinting is one narrow
    // higher-order-function pass (no shuffle), the pair generation is one
    // groupBy(fp) over ids with a HOT-FINGERPRINT CAP (≤ 50 docs — the
    // LSH-bucket-cap rule: a boilerplate fingerprint shared by thousands
    // of docs would otherwise emit quadratic pairs), then one pair count.
    ("llm_winnow",
      (s, d) => {
        // one narrow codegen'd pass per DISTINCT text (graft.functions.
        // WinnowPrints) — bit-identical to the composed transform/md5/
        // conv/array_min chain (asserted over the corpus in
        // NarrowStatsSpec), ~3× cheaper than composing built-ins.
        // Dedupe-first: crawl corpora are copy-heavy (the sf1 replication
        // regime: 10 verbatim copies per doc), and identical texts have
        // identical fingerprint sets, so fingerprint once per md5(text)
        // and join the set back to doc ids — the expensive hash pass
        // scales with DISTINCT content, not row count.
        // The whole pipeline runs at DISTINCT-TEXT granularity (identical
        // texts have identical fingerprint sets), then expands back to doc
        // pairs at the end — candidate and pair-count work scales with
        // distinct content, quadratically less in copy multiplicity. The
        // hot-fingerprint cap stays DOC-level exact: buckets carry each
        // text's copy count and the cap tests the copy-weighted size.
        // materialized once (r16): five consumers below (copy counts +
        // two expansion joins per pair arm) each re-ran the corpus scan
        // and per-doc md5 — the llm_fuzzy_match lost-checkpoint shape
        val hashed = documents(s, d)
          .select(col("doc_id"), md5(col("text")).as("h"))
          .mat()
        val counts = hashed.groupBy("h").agg(count(lit(1)).as("c"))
        val fpsByText = documents(s, d)
          .select(md5(col("text")).as("h"), split(col("text"), " ").as("l"))
          .filter(size(col("l")) >= 8)
          .dropDuplicates("h")
          .select(col("h"),
            explode(call_function("winnow_prints", col("l"))).as("fp"))
        val buckets = fpsByText.join(counts, "h")
          .groupBy("fp")
          .agg(array_sort(collect_list(struct(col("h"), col("c")))).as("ds"),
            sum(col("c")).as("ndocs"))
          .filter(col("ndocs").between(2, 50))
        // sorted bucket ⇒ positional i<j pairs are value-ordered: emit
        // exactly the C(n,2) text pairs instead of the n² square
        val crossT = buckets
          .select(explode(expr(
            // i runs to size(ds), not size-1: sequence(1, 0) DESCENDS in
            // Spark, so a single-text bucket would index element 0; the
            // last i just contributes an empty slice instead
            """flatten(transform(sequence(1, size(ds)), i ->
                 transform(slice(ds, i + 1, size(ds) - i),
                           b -> struct(element_at(ds, i).h AS h1,
                                       b.h AS h2))))""")).as("p"))
          .groupBy(col("p.h1").as("h1"), col("p.h2").as("h2"))
          .agg(count(lit(1)).as("n_shared"))
          .filter(col("n_shared") >= 3)
        // every (copy of h1, copy of h2) doc pair shares exactly the text
        // pair's fingerprints; copies of ONE text share all its capped fps
        val cross = broadcast(crossT)
          .join(hashed.select(col("h").as("h1"), col("doc_id").as("i")),
            "h1")
          .hint("broadcast")
          .join(hashed.select(col("h").as("h2"), col("doc_id").as("j")),
            "h2")
          .select(least(col("i"), col("j")).as("d1"),
            greatest(col("i"), col("j")).as("d2"), col("n_shared"))
        val sameT = buckets
          .select(explode(col("ds")).as("e"))
          .filter(col("e.c") >= 2)
          .groupBy(col("e.h").as("h"))
          .agg(count(lit(1)).as("n_shared"))
          .filter(col("n_shared") >= 3)
        val same = broadcast(sameT)
          .join(hashed.as("x"), "h").hint("broadcast")
          .join(hashed.select(col("h"), col("doc_id").as("j")).as("y"), "h")
          .filter(col("doc_id") < col("j"))
          .select(col("doc_id").as("d1"), col("j").as("d2"), col("n_shared"))
        cross.unionByName(same)
      },
      Some("""WITH h AS (
                SELECT doc_id, i,
                       CAST(concat('0x',
                              substr(md5(concat(l[i], ' ', l[i+1], ' ',
                                                l[i+2], ' ', l[i+3])),
                                     1, 7)) AS BIGINT) AS hv
                FROM (SELECT doc_id, l,
                             unnest(generate_series(1, len(l) - 3)) AS i
                      FROM (SELECT doc_id, string_split(text, ' ') AS l
                            FROM documents) x
                      WHERE len(l) >= 8) t),
              fpall AS (
                SELECT doc_id, i,
                       min(hv) OVER (PARTITION BY doc_id ORDER BY i
                                     ROWS BETWEEN CURRENT ROW
                                              AND 4 FOLLOWING) AS fp,
                       count(*) OVER (PARTITION BY doc_id) AS n
                FROM h),
              fp AS (SELECT DISTINCT doc_id, fp
                     FROM fpall WHERE i <= n - 4),
              ok AS (SELECT fp FROM fp GROUP BY fp
                     HAVING count(*) BETWEEN 2 AND 50)
              SELECT a.doc_id AS d1, b.doc_id AS d2,
                     count(*) AS n_shared
              FROM fp a JOIN fp b ON a.fp = b.fp AND a.doc_id < b.doc_id
              JOIN ok ON ok.fp = a.fp
              GROUP BY 1, 2
              HAVING count(*) >= 3""")),

    // Text normalization: ONE corpus-prep pipeline — casefold, drop
    // punctuation, collapse whitespace runs, strip edges — published both
    // as the cleaned text and as its md5 (what exact-dedup would key on
    // after cleaning; md5(norm_text) == norm_md5 by construction). Pure
    // narrow map, no shuffle.
    ("llm_normalize",
      (s, d) => {
        val cleaned = trim(regexp_replace(
          regexp_replace(lower(col("text")), "[.,;:!?]", ""), "\\s+", " "))
        documents(s, d).select(col("doc_id"),
          cleaned.as("norm_text"), md5(cleaned).as("norm_md5"))
      },
      Some("""SELECT doc_id, norm_text, md5(norm_text) AS norm_md5
              FROM (SELECT doc_id,
                           trim(regexp_replace(
                             regexp_replace(lower(text), '[.,;:!?]', '', 'g'),
                             '\s+', ' ', 'g')) AS norm_text
                    FROM documents) t""")),

    // Deterministic train/val/test split: the assignment hashes the
    // DOCUMENT CONTENT (not a random draw), so re-runs, engine changes and
    // re-shards never move a document across splits — the property that
    // matters when dedup must stay split-safe. 80/10/10 on md5's first
    // byte as an integer in [0, 256).
    ("llm_train_split",
      (s, d) => {
        // first md5 byte via one hash + conv (r17) — identical value to
        // the double instr/substr probe, see llm_leakage_safe_split
        val b = expr(
          "CAST(conv(substr(md5(text), 1, 2), 16, 10) AS INT)")
        documents(s, d).select(col("doc_id"),
          b.cast(IntegerType).as("bucket"),
          when(b < 205, "train").when(b < 230, "val").otherwise("test")
            .as("split"))
      },
      Some("""SELECT doc_id, CAST(bucket AS INTEGER) AS bucket,
                     CASE WHEN bucket < 205 THEN 'train'
                          WHEN bucket < 230 THEN 'val'
                          ELSE 'test' END AS split
              FROM (SELECT doc_id,
                           (strpos('0123456789abcdef', substr(md5(text), 1, 1)) - 1) * 16
                           + strpos('0123456789abcdef', substr(md5(text), 2, 1)) - 1
                             AS bucket
                    FROM documents) t""")),

    // Sequence PACKING: assign documents to fixed-token-budget training
    // bins (budget 512) — the classic pretraining batch-prep step. Docs
    // pack greedily in deterministic doc_id order WITHIN a shard
    // (doc_id % 16): bin = floor(preceding-token-cumsum / budget), i.e. a
    // doc may straddle a boundary and continues in its bin — the
    // "pack then split on read" convention. Sharding is the scale shape:
    // each shard's cumsum is an independent window partition, so packing
    // parallelizes instead of serializing on one global ordered window.
    ("llm_pack_bins",
      (s, d) => {
        val w = Window.partitionBy("shard").orderBy("doc_id")
          .rowsBetween(Window.unboundedPreceding, -1)
        documents(s, d)
          .select(col("doc_id"), (col("doc_id") % 16).as("shard"),
            size(split(col("text"), " ")).cast(LongType).as("n_tok"))
          .withColumn("tok_start",
            coalesce(sum(col("n_tok")).over(w), lit(0L)))
          .select(col("doc_id"), col("shard"), col("n_tok"),
            (col("tok_start") / 512).cast(LongType).as("bin"))
      },
      Some("""SELECT doc_id, doc_id % 16 AS shard,
                     CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tok,
                     CAST(COALESCE(SUM(len(string_split(text, ' ')))
                            OVER (PARTITION BY doc_id % 16 ORDER BY doc_id
                                  ROWS BETWEEN UNBOUNDED PRECEDING
                                       AND 1 PRECEDING), 0) // 512 AS BIGINT)
                       AS bin
              FROM documents""")),

    // Context-window CHUNKING: split each document's token sequence into
    // fixed-size 50-token chunks (last chunk partial) — the RAG/pretraining
    // chunker. One narrow explode per doc; chunk text re-joined inside
    // codegen (slice + array_join), rows scale with total tokens / 50.
    ("llm_chunk",
      (s, d) => documents(s, d)
        .select(col("doc_id"), split(col("text"), " ").as("toks"))
        .select(col("doc_id"), col("toks"), size(col("toks")).as("n"),
          explode(expr("sequence(0, (size(toks) - 1) div 50)")).as("chunk_idx"))
        .select(col("doc_id"), col("chunk_idx").cast(IntegerType).as("chunk_idx"),
          least(lit(50), col("n") - col("chunk_idx") * 50)
            .cast(IntegerType).as("chunk_tokens"),
          expr("array_join(slice(toks, chunk_idx * 50 + 1, 50), ' ')")
            .as("chunk_text")),
      Some("""SELECT doc_id, CAST(ci AS INTEGER) AS chunk_idx,
                     CAST(least(50, len(l) - ci * 50) AS INTEGER) AS chunk_tokens,
                     array_to_string(l[ci * 50 + 1 : ci * 50 + 50], ' ')
                       AS chunk_text
              FROM (SELECT doc_id, string_split(text, ' ') AS l FROM documents) t,
                   LATERAL (SELECT unnest(generate_series(0,
                              (len(l) - 1) // 50)) AS ci) g""")),

    // Multimodal metadata plumbing: opaque binary payload + typed metadata.
    // The decode/feature step is the stubbed mapPartitions in
    // graft.llm.Multimodal; this query is the schema/checksum surface.
    ("llm_multimodal_meta",
      (s, d) => documents(s, d)
        .withColumn("payload", col("text").cast(BinaryType))
        .select(col("doc_id"),
          length(col("payload")).as("n_bytes"),
          md5(col("payload")).as("checksum"),
          expr("instr('0123456789abcdef', substr(md5(text), 1, 1)) - 1")
            .cast(IntegerType).as("shard")),
      Some("""SELECT doc_id,
                     CAST(octet_length(encode(text)) AS INTEGER) AS n_bytes,
                     md5(text) AS checksum,
                     CAST(strpos('0123456789abcdef', substr(md5(text), 1, 1)) - 1
                          AS INTEGER) AS shard
              FROM documents"""))
  )
}
