package graft.queries

import graft.Tables._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Core relational operators from SURVEY.md §2.2/§2.4/§2.6/§2.7/§2.8,
  * re-expressed over the driver's TPC-H-ish tables. Each entry pairs a
  * DataFrame program with a DuckDB oracle (column names aligned on both
  * sides; see Tables for the decimal-exact aggregation policy).
  *
  * Reference semantics cited per query (file:line under /root/reference).
  */
object Relational {

  type Q = (SparkSession, String) => DataFrame

  /** (name, spark program, oracle SQL — None ⇒ rows-only check) */
  val all: Seq[(String, Q, Option[String])] = Seq(

    // F1 — transform-mode date filter, range mode
    // ref: transform/esios_transform.py:38-111
    ("f1_date_filter",
      (s, d) => orders(s, d)
        .filter(col("o_orderdate").between("1996-01-01", "1996-12-31"))
        .select("o_orderkey", "o_custkey", "o_orderdate", "o_totalprice"),
      Some("""SELECT o_orderkey, o_custkey, o_orderdate, o_totalprice
              FROM orders
              WHERE o_orderdate BETWEEN '1996-01-01' AND '1996-12-31'""")),

    // F1/O2 — transform-mode "latest" filter: rows of the max date
    // ref: transform/esios_transform.py:67-75
    ("f1_latest_day",
      (s, d) => {
        val o = orders(s, d)
        o.join(broadcast(o.agg(max(col("o_orderdate")).as("mx"))),
            col("o_orderdate") === col("mx"))
          .select("o_orderkey", "o_custkey", "o_orderdate")
      },
      Some("""SELECT o_orderkey, o_custkey, o_orderdate FROM orders
              WHERE o_orderdate = (SELECT max(o_orderdate) FROM orders)""")),

    // F2 — conditional filter: restricted types must pass an extra predicate
    // ref: transform/procesadores/_procesador_esios.py:100-132 (geo filter)
    ("f2_conditional_filter",
      (s, d) => events(s, d)
        .filter(!col("event_type").isin("purchase", "signup") || col("user_id") < 50)
        .select("event_id", "user_id", "event_type"),
      Some("""SELECT event_id, user_id, event_type FROM events
              WHERE event_type NOT IN ('purchase','signup') OR user_id < 50""")),

    // F3 — config-driven market filter + literal id tag + union
    // ref: _procesador_i90.py:35-124, configs/i90_config.py:483-599
    ("f3_market_filter_union",
      (s, d) => {
        val li = lineitem(s, d)
        val legs = Seq( // (id_mercado, sentido-like flag, redespacho-like statuses)
          (1, "R", Seq("F")),
          (2, "A", Seq("F", "O")),
          (3, "N", Seq("O")))
        legs.map { case (id, flag, sts) =>
          li.filter(col("l_returnflag") === flag && col("l_linestatus").isin(sts: _*))
            .withColumn("id_mercado", lit(id))
            .select("l_orderkey", "l_linenumber", "id_mercado", "l_quantity")
        }.reduce(_ unionByName _)
      },
      Some("""SELECT l_orderkey, l_linenumber, 1 AS id_mercado, l_quantity FROM lineitem
              WHERE l_returnflag = 'R' AND l_linestatus IN ('F')
              UNION ALL
              SELECT l_orderkey, l_linenumber, 2 AS id_mercado, l_quantity FROM lineitem
              WHERE l_returnflag = 'A' AND l_linestatus IN ('F','O')
              UNION ALL
              SELECT l_orderkey, l_linenumber, 3 AS id_mercado, l_quantity FROM lineitem
              WHERE l_returnflag = 'N' AND l_linestatus IN ('O')""")),

    // F6 — technology left-semi join filter (broadcast the dim side)
    // ref: _procesador_i3.py:37-61
    ("f6_semi_join",
      (s, d) => lineitem(s, d)
        .join(broadcast(part(s, d).filter(col("p_size") < 10)),
          col("l_partkey") === col("p_partkey"), "left_semi")
        .select("l_orderkey", "l_partkey", "l_quantity"),
      Some("""SELECT l_orderkey, l_partkey, l_quantity FROM lineitem
              WHERE l_partkey IN (SELECT p_partkey FROM part WHERE p_size < 10)""")),

    // F7 — curtailment filter + RTx derivation + literal market id
    // ref: _procesador_curtailments.py:28-59
    ("f7_case_derivation",
      (s, d) => events(s, d)
        .filter(col("event_type").isin("error", "purchase"))
        .select(col("event_id"), col("user_id"),
          when(col("event_type") === "error", "R1").otherwise("R5").as("rtx"),
          lit(13).as("id_mercado"), col("value").as("volumenes")),
      Some("""SELECT event_id, user_id,
                     CASE WHEN event_type = 'error' THEN 'R1' ELSE 'R5' END AS rtx,
                     13 AS id_mercado, value AS volumenes
              FROM events WHERE event_type IN ('error','purchase')""")),

    // F8 — matched-units filter + buy/sell sign + power→energy ÷4
    // ref: _procesador_omie.py:97-173 (exact: ±1 and /4 on ≤2-dec values)
    ("f8_sign_multiplier",
      (s, d) => lineitem(s, d)
        .filter(col("l_linestatus") === "F")
        .select(col("l_orderkey"), col("l_linenumber"),
          (when(col("l_returnflag") === "R", -1).otherwise(1)
            * col("l_quantity") / 4).as("volumenes")),
      Some("""SELECT l_orderkey, l_linenumber,
                     CASE WHEN l_returnflag = 'R' THEN -1 ELSE 1 END * l_quantity / 4
                       AS volumenes
              FROM lineitem WHERE l_linestatus = 'F'""")),

    // F9 — empty-row cleaning: drop rows where ALL of a column subset is null
    // ref: _procesador_omie.py:34-63
    ("f9_na_drop",
      (s, d) => events(s, d)
        .withColumn("et", expr("nullif(event_type, 'view')"))
        .withColumn("v0", expr("nullif(value, 0.0d)"))
        .na.drop("all", Seq("et", "v0"))
        .select("event_id", "et", "value"),
      Some("""SELECT event_id, nullif(event_type, 'view') AS et, value FROM events
              WHERE NOT (nullif(event_type, 'view') IS NULL
                         AND nullif(value, 0.0) IS NULL)""")),

    // F10 — column finalize: rename + project + sort
    // ref: _procesador_i90.py:211-233
    ("f10_finalize",
      (s, d) => supplier(s, d)
        .withColumnRenamed("s_suppkey", "up_id")
        .withColumnRenamed("s_name", "up")
        .withColumnRenamed("s_acctbal", "saldo")
        .select("up_id", "up", "saldo")
        .orderBy("up_id"),
      Some("""SELECT s_suppkey AS up_id, s_name AS up, s_acctbal AS saldo
              FROM supplier ORDER BY up_id""")),

    // F11 — NA/0 value pruning (sparsity optimization at extract)
    // ref: _descargador_i90.py:286-292
    ("f11_nonzero_prune",
      (s, d) => lineitem(s, d)
        .filter(col("l_discount").isNotNull && col("l_discount") =!= 0)
        .select("l_orderkey", "l_linenumber", "l_discount"),
      Some("""SELECT l_orderkey, l_linenumber, l_discount FROM lineitem
              WHERE l_discount IS NOT NULL AND l_discount <> 0""")),

    // A1 — entity × timestamp roll-up (OMIE volume aggregation)
    // ref: _procesador_omie.py:699-724
    ("a1_rollup",
      (s, d) => lineitem(s, d)
        // (suppkey, shipdate) is nearly a key of lineitem (~0.9 groups per
        // row), so the default two-phase aggregation shuffles ~|rows| of
        // ENCODED PARTIAL BUFFERS — combining nothing. The explicit
        // repartition on the entity key alone satisfies the grouping's
        // clustering (the j3 profile-hash precedent): one raw-row
        // exchange, and the partial+final pair pipelines in a single
        // stage with no shuffle between (1.47 s → 0.73 s at sf0.1).
        .transform(pinnedRepartition(_, col("l_suppkey")))
        .groupBy(col("l_suppkey"), col("l_shipdate"))
        .agg(dsum2(col("l_quantity")).as("volumenes"), count(lit(1)).as("n")),
      Some("""SELECT l_suppkey, l_shipdate,
                     CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS volumenes,
                     count(*) AS n
              FROM lineitem GROUP BY l_suppkey, l_shipdate""")),

    // A2 — 15-min → hourly downsample: numeric mean + representative label
    // ref: utilidades/etl_date_utils.py:866-937
    ("a2_downsample",
      (s, d) => events(s, d)
        .groupBy(date_trunc("hour", col("ts")).as("hora"), col("user_id"))
        .agg(dsum2(col("value")).as("suma"), count(lit(1)).as("n"),
          min(col("event_type")).as("primero"))
        .withColumn("media", col("suma") / col("n")),
      Some("""SELECT date_trunc('hour', CAST(ts AS TIMESTAMP)) AS hora, user_id,
                     CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS suma,
                     count(*) AS n, min(event_type) AS primero,
                     CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) / count(*) AS media
              FROM events GROUP BY 1, 2""")),

    // A3 — linking hourly sum: per-entity hour-of-day profile aggregation
    // ref: vinculacion/_linking_algorithm.py:126-129, 158-161
    ("a3_hourly_sum",
      (s, d) => events(s, d)
        .groupBy(col("user_id"), hour(col("ts")).as("hora"))
        .agg(dsum2(col("value")).as("volumenes")),
      Some("""SELECT user_id,
                     CAST(EXTRACT(hour FROM CAST(ts AS TIMESTAMP)) AS INTEGER) AS hora,
                     CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS volumenes
              FROM events GROUP BY 1, 2""")),

    // A4 — keyed keep-last dedup: the lake's idempotent-upsert core.
    // pandas' implicit "last row wins" becomes an explicit precedence order
    // (ts DESC, event_id DESC) — SURVEY.md §7.4.2.
    // ref: utilidades/processed_file_utils.py:28-74
    ("a4_keep_last_dedup",
      (s, d) => {
        val w = Window.partitionBy(col("user_id"), col("event_type"))
          .orderBy(col("ts").desc, col("event_id").desc)
        events(s, d).withColumn("rn", row_number().over(w))
          .filter(col("rn") === 1)
          .select("event_id", "user_id", "event_type", "value")
      },
      Some("""SELECT event_id, user_id, event_type, value FROM (
                SELECT event_id, user_id, event_type, value,
                       row_number() OVER (PARTITION BY user_id, event_type
                                          ORDER BY CAST(ts AS TIMESTAMP) DESC,
                                                   event_id DESC) AS rn
                FROM events) t WHERE rn = 1""")),

    // A5 — exact full-row dedup (raw zone)
    // ref: utilidades/raw_file_utils.py:27-49
    ("a5_exact_dedup",
      (s, d) => lineitem(s, d)
        .select("l_returnflag", "l_linestatus", "l_quantity").distinct(),
      Some("""SELECT DISTINCT l_returnflag, l_linestatus, l_quantity FROM lineitem""")),

    // A6 — price sanity stats: count/null/negative/zero + mean + stddev
    // ref: _procesador_esios.py:47-83
    ("a6_sanity_stats",
      (s, d) => lineitem(s, d).agg(
        count(lit(1)).as("n"),
        count(when(col("l_extendedprice").isNull, 1)).as("nulos"),
        count(when(col("l_extendedprice") < 0, 1)).as("negativos"),
        count(when(col("l_extendedprice") === 0, 1)).as("ceros"),
        (dsum2(col("l_extendedprice")) / count(lit(1))).as("media"),
        round(stddev_samp(col("l_extendedprice")), 2).as("desv")),
      Some("""SELECT count(*) AS n,
                     count(CASE WHEN l_extendedprice IS NULL THEN 1 END) AS nulos,
                     count(CASE WHEN l_extendedprice < 0 THEN 1 END) AS negativos,
                     count(CASE WHEN l_extendedprice = 0 THEN 1 END) AS ceros,
                     CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE)
                       / count(*) AS media,
                     round(stddev_samp(l_extendedprice), 2) AS desv
              FROM lineitem""")),

    // A7 — conflict counting (value_counts > 1)
    // ref: vinculacion/_linking_algorithm.py:441-445
    ("a7_conflict_count",
      (s, d) => orders(s, d).groupBy("o_custkey").agg(count(lit(1)).as("n"))
        .filter(col("n") > 1),
      Some("""SELECT o_custkey, count(*) AS n FROM orders
              GROUP BY o_custkey HAVING count(*) > 1""")),

    // A8 — distinct scan driving loops
    // ref: _procesador_i90.py:327-352
    ("a8_distinct",
      (s, d) => events(s, d).select("event_type").distinct(),
      Some("""SELECT DISTINCT event_type FROM events""")),

    // A9/U2 — set-difference dimension update (anti-join)
    // ref: tecnologias_generacion/p48_tecnologias_generacion.py:27-108
    ("a9_set_diff",
      (s, d) => customer(s, d)
        .join(events(s, d), col("c_custkey") === col("user_id"), "left_anti")
        .select("c_custkey"),
      Some("""SELECT c_custkey FROM customer
              WHERE c_custkey NOT IN (SELECT user_id FROM events)""")),

    // ROLLUP — hierarchical subtotals (the reference's NL layer prescribes
    // ROLLUP in its SQL surface, natlanguage_duckdb_queries.py:242)
    ("a10_rollup",
      (s, d) => orders(s, d)
        .rollup(col("o_orderpriority"), col("o_orderstatus"))
        .agg(dsum2(col("o_totalprice")).as("total"), count(lit(1)).as("n")),
      Some("""SELECT o_orderpriority, o_orderstatus,
                     CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total,
                     count(*) AS n
              FROM orders GROUP BY ROLLUP(o_orderpriority, o_orderstatus)""")),

    // A17 — CUBE, the third face of the grouping family (A10 covers
    // ROLLUP/grouping sets): every dimension subset in one pass, with
    // grouping_id disambiguating a real NULL key from a subtotal row —
    // the detail that makes cube output joinable downstream. Same
    // map-side-combine shape as any aggregate: the expansion factor is
    // 2^|dims| on the PARTIAL buffers, never on raw rows.
    ("a17_cube",
      (s, d) => orders(s, d)
        .cube(col("o_orderpriority"), col("o_orderstatus"))
        .agg(dsum2(col("o_totalprice")).as("total"), count(lit(1)).as("n"),
          grouping_id().cast(IntegerType).as("gid")),
      Some("""SELECT o_orderpriority, o_orderstatus,
                     CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2)))
                          AS DOUBLE) AS total,
                     count(*) AS n,
                     CAST(GROUPING(o_orderpriority) * 2
                          + GROUPING(o_orderstatus) AS INTEGER) AS gid
              FROM orders
              GROUP BY CUBE(o_orderpriority, o_orderstatus)""")),

    // A21 — GROUPED winsorize: the per-group face of A11 — cutoffs per
    // source come from the fully in-plan grouped exact quantiles
    // (operators/Quantiles.grouped: value-counts + cumulative window over
    // DISTINCT values per group, bounded by |group|×|distinct|, nothing
    // collected), broadcast back, clip + one aggregation. The shape a
    // per-domain outlier policy takes at 100 TB: no global sort, no
    // per-group value buffer, cutoff table is |groups|-sized.
    ("a21_winsorize_grouped",
      (s, d) => {
        val base = documents(s, d)
          .select(col("source"), col("n_chars").cast(DoubleType).as("v"))
        val cuts = graft.operators.Quantiles.grouped(base, Seq("source"),
          "v", Seq(0.05, 0.95), Seq("lo_raw", "hi_raw"))
          .select(col("source"), round(col("lo_raw"), 6).as("lo"),
            round(col("hi_raw"), 6).as("hi"))
        base.join(broadcast(cuts), Seq("source"))
          .select(col("source"), col("lo"), col("hi"),
            when(col("v") < col("lo"), 1).otherwise(0).as("clo"),
            when(col("v") > col("hi"), 1).otherwise(0).as("chi"),
            greatest(least(col("v"), col("hi")), col("lo")).as("clipped"))
          .groupBy("source", "lo", "hi")
          .agg(sum(col("clo")).cast(LongType).as("n_clipped_low"),
            sum(col("chi")).cast(LongType).as("n_clipped_high"),
            sum(col("clipped").cast(DecimalType(28, 6)))
              .cast(DoubleType).as("sum_clipped"))
      },
      Some("""WITH cuts AS (
                SELECT source,
                       round(quantile_cont(n_chars, 0.05), 6) AS lo,
                       round(quantile_cont(n_chars, 0.95), 6) AS hi
                FROM documents GROUP BY 1)
              SELECT d.source, lo, hi,
                     CAST(SUM(CASE WHEN n_chars < lo THEN 1 ELSE 0 END)
                          AS BIGINT) AS n_clipped_low,
                     CAST(SUM(CASE WHEN n_chars > hi THEN 1 ELSE 0 END)
                          AS BIGINT) AS n_clipped_high,
                     CAST(SUM(CAST(greatest(least(CAST(n_chars AS DOUBLE),
                                                  hi), lo)
                                   AS DECIMAL(28,6))) AS DOUBLE)
                       AS sum_clipped
              FROM documents d JOIN cuts ON d.source = cuts.source
              GROUP BY 1, 2, 3""")),

    // A18 — APPROXIMATE DISTINCT (HyperLogLog++) gated by the exact
    // answer: per group, the exact distinct count plus a boolean asserting
    // the HLL estimate (rsd 2%) landed within 5% of it. The estimate
    // itself is engine-specific so it can't be hash-compared — the GATE
    // can: the oracle expects `true`, and HLL++ on fixed data is
    // deterministic, so a sketch regression flips the row red. This is
    // the recall@k pattern (approximate arm judged by the exact arm)
    // applied to cardinality. At 100 TB the HLL arm is the only viable
    // one — mergeable fixed-size sketches, no distinct shuffle of the
    // full key stream — and this row documents its contract.
    ("a18_approx_distinct",
      (s, d) => lineitem(s, d)
        // ONE aggregation pass, both arms (r14 — the r13 shape deduped
        // first via groupBy(pk), but for a high-cardinality uniform key
        // the pre-shuffle partial barely reduces: a partition holding
        // 190k of 800k keys keeps ~170k groups, so the plan paid a
        // near-full-input shuffle + two large hash-map builds, 8.9× the
        // oracle at sf1. The EXACT arm is now `bitmap_distinct` (paged
        // OR-able bitmap, functions/BitmapDistinct.scala): update = set
        // bit, merge = OR — so the only exchange carries ≤4 groups of
        // fixed-size mergeable state, the same property that makes the
        // HLL arm scale. Flag codes 0..3 keep the 2-bit domain encode;
        // an out-of-domain flag (incl. NULL) takes the 4th code and
        // decodes to a NULL flag group in this row's own output — never
        // silently merged into 'R' (ADVICE r12); f14's rule names it.
        .select(col("l_partkey").cast(LongType).as("l_partkey"),
          when(col("l_returnflag") === "A", 0)
            .when(col("l_returnflag") === "N", 1)
            .when(col("l_returnflag") === "R", 2)
            .otherwise(3).as("f"))
        .groupBy(col("f"))
        .agg(call_function("bitmap_distinct", col("l_partkey"))
            .as("exact_parts"),
          approx_count_distinct(col("l_partkey"), 0.02).as("est"))
        .select(when(col("f") === 0, "A").when(col("f") === 1, "N")
            .when(col("f") === 2, "R").as("l_returnflag"),
          col("exact_parts"),
          (abs(col("est") - col("exact_parts"))
            <= col("exact_parts") * 0.05).as("hll_within_5pct")),
      Some("""SELECT l_returnflag,
                     count(DISTINCT l_partkey) AS exact_parts,
                     true AS hll_within_5pct
              FROM lineitem GROUP BY 1""")),

    // A19 — APPROXIMATE QUANTILE (Greenwald-Khanna via approxQuantile)
    // gated by exact RANK position: the GK p50 estimate's true rank must
    // sit within the requested ±1% rank error of the median position.
    // Same approx-gated-by-exact contract as A18; the exact median comes
    // from the bounded-memory log-bucket kernel (not a value buffer), so
    // both arms scale.
    ("a19_approx_quantile_gate",
      (s, d) => {
        // FUSED (r13): THREE jobs — the GK sketch, then the 2-job exact
        // kernel whose probe support computes rank(apx) = count(v <= apx)
        // inside the SAME region scan that resolves the exact median (the
        // r12 shape decoded the fact parquet once per arm + a dedicated
        // rank scan — 7.5× vs the oracle, nearly all job floors)
        import graft.operators.Quantiles
        val base = Quantiles.projected(lineitem(s, d), "l_extendedprice")
        val apx = base.stat.approxQuantile("__v", Array(0.5), 0.01)(0)
        val (qs, ranks, n) =
          Quantiles.exact(base, Seq(0.5), probes = Seq(apx))
        val gkOk = math.abs(ranks.head - n * 0.5) <= n * 0.011 + 1
        s.range(1).select(lit(Quantiles.round6(qs.head)).as("exact_p50"),
          lit(gkOk).as("gk_rank_ok"))
      },
      Some("""SELECT round(quantile_cont(l_extendedprice, 0.5), 6)
                       AS exact_p50,
                     true AS gk_rank_ok
              FROM lineitem""")),

    // A20 — COUNT-MIN SKETCH: the frequency sketch that completes the
    // approximate-structures family (HLL cardinality, GK quantiles, bloom
    // membership, minhash similarity — and now CMS heavy-hitter counts).
    // The sketch is 4×1024 integer cells built by ONE corpus aggregation
    // (map-side partials shrink each task's output to ≤4096 rows — the
    // mergeable fixed-size property that makes CMS the 100 TB counter);
    // estimates for the exact top-10 tokens are min-over-rows via a
    // broadcast of the cell table. Everything is integer arithmetic over
    // md5-prefix hashes, so the ORACLE REPLICATES THE SKETCH and the
    // estimates hash-compare exactly — stronger than a boolean gate.
    ("a20_countmin_est",
      (s, d) => {
        val P = 2147483647L; val W = 1024
        val A = Seq(1103515245L, 1232937849L, 1654435769L, 999999937L)
        val C = Seq(12345L, 362437L, 521288629L, 668265263L)
        // VOCABULARY-grain (r16): the r12 shape exploded token INSTANCES
        // into both the cell aggregation and the exact-count aggregation —
        // two full scan+explode+md5 passes over the corpus (4 parquet
        // scans in the plan), with md5/conv evaluated once per instance.
        // Token frequencies collapse to the vocabulary first (ONE
        // scan+explode, map-side partials bound each task's output by
        // |vocab|), md5 runs once per DISTINCT token, and the tiny
        // vocab-grain frame is checkpointed so the cell sum and the top-10
        // read one materialization. Cell counts are identical: summing
        // per-token counts per (j,b) ≡ counting instances per (j,b).
        val vocab = documents(s, d)
          .select(explode(split(col("text"), " ")).as("tok"))
          .filter(col("tok") =!= "")
          .groupBy("tok").agg(count(lit(1)).as("exact_n"))
          .withColumn("x",
            expr("CAST(conv(substr(md5(tok), 1, 7), 16, 10) AS BIGINT)"))
          .mat()
        def rows(c: org.apache.spark.sql.Column) = array((0 until 4).map(j =>
          struct(lit(j).as("j"), (((c * A(j)) + C(j)) % P % W).as("b"))): _*)
        val cells = vocab.select(explode(rows(col("x"))).as("jb"),
            col("exact_n"))
          .groupBy(col("jb.j").as("j"), col("jb.b").as("b"))
          .agg(sum(col("exact_n")).as("c"))
        val top = vocab
          .orderBy(col("exact_n").desc, col("tok")).limit(10)
        top.select(col("tok"), col("exact_n"),
            explode(rows(col("x"))).as("jb"))
          .select(col("tok"), col("exact_n"),
            col("jb.j").as("j"), col("jb.b").as("b"))
          .join(broadcast(cells), Seq("j", "b"))
          .groupBy("tok", "exact_n").agg(min(col("c")).as("est_n"))
      },
      Some("""WITH t AS (
                SELECT tok,
                       CAST(concat('0x', substr(md5(tok), 1, 7)) AS BIGINT)
                         AS x
                FROM (SELECT unnest(string_split(text, ' ')) AS tok
                      FROM documents) w
                WHERE tok <> ''),
              h AS (
                SELECT j,
                       ((x * CASE j WHEN 0 THEN 1103515245
                                    WHEN 1 THEN 1232937849
                                    WHEN 2 THEN 1654435769
                                    ELSE 999999937 END
                         + CASE j WHEN 0 THEN 12345 WHEN 1 THEN 362437
                                  WHEN 2 THEN 521288629
                                  ELSE 668265263 END)
                        % 2147483647) % 1024 AS b
                FROM t, generate_series(0, 3) s(j)),
              cells AS (SELECT j, b, count(*) AS c FROM h GROUP BY 1, 2),
              top AS (SELECT tok, x, count(*) AS exact_n FROM t
                      GROUP BY 1, 2 ORDER BY exact_n DESC, tok LIMIT 10),
              q AS (
                SELECT tok, exact_n, j,
                       ((x * CASE j WHEN 0 THEN 1103515245
                                    WHEN 1 THEN 1232937849
                                    WHEN 2 THEN 1654435769
                                    ELSE 999999937 END
                         + CASE j WHEN 0 THEN 12345 WHEN 1 THEN 362437
                                  WHEN 2 THEN 521288629
                                  ELSE 668265263 END)
                        % 2147483647) % 1024 AS b
                FROM top, generate_series(0, 3) s(j))
              SELECT tok, CAST(exact_n AS BIGINT) AS exact_n,
                     CAST(min(c) AS BIGINT) AS est_n
              FROM q JOIN cells USING (j, b)
              GROUP BY tok, exact_n""")),

    // O4 — deterministic top-k per group (ranking window)
    ("o4_topk_per_group",
      (s, d) => {
        val j = orders(s, d).join(customer(s, d), col("o_custkey") === col("c_custkey"))
        val w = Window.partitionBy("c_mktsegment")
          .orderBy(col("o_totalprice").desc, col("o_orderkey"))
        j.withColumn("rn", row_number().over(w)).filter(col("rn") <= 3)
          .select(col("c_mktsegment"), col("o_orderkey"), col("o_totalprice"),
            col("rn").cast(IntegerType).as("rn"))
      },
      Some("""SELECT c_mktsegment, o_orderkey, o_totalprice, CAST(rn AS INTEGER) AS rn
              FROM (SELECT c_mktsegment, o_orderkey, o_totalprice,
                           row_number() OVER (PARTITION BY c_mktsegment
                                              ORDER BY o_totalprice DESC, o_orderkey) AS rn
                    FROM orders JOIN customer ON o_custkey = c_custkey) t
              WHERE rn <= 3""")),

    // O4 as a BOUNDED-STATE aggregation — the 100 TB twin of the window
    // form above: row_number() OVER (PARTITION BY segment) shuffles EVERY
    // joined row to its segment's partition and sorts there, and with 5
    // segments that is 5 tasks sorting the whole fact table at scale.
    // topk_structs (graft.functions.TopKStructs) keeps a k-row buffer per
    // (partition, segment) instead: the exchange moves ≤ k rows per
    // partition per segment and nothing is globally sorted. Same oracle,
    // same rows — the ordering struct carries the unique o_orderkey
    // tiebreak, so the top-3 cut is identical to the window's.
    ("o4_topk_per_group_agg",
      (s, d) => orders(s, d)
        .join(customer(s, d), col("o_custkey") === col("c_custkey"))
        .groupBy(col("c_mktsegment"))
        .agg(expr(
          """topk_structs(struct(o_totalprice, o_orderkey), 3,
               array(true, false))""").as("top"))
        .select(col("c_mktsegment"),
          posexplode(col("top")).as(Seq("pos", "r")))
        .select(col("c_mktsegment"), col("r.o_orderkey").as("o_orderkey"),
          col("r.o_totalprice").as("o_totalprice"),
          (col("pos") + 1).cast(IntegerType).as("rn")),
      Some("""SELECT c_mktsegment, o_orderkey, o_totalprice, CAST(rn AS INTEGER) AS rn
              FROM (SELECT c_mktsegment, o_orderkey, o_totalprice,
                           row_number() OVER (PARTITION BY c_mktsegment
                                              ORDER BY o_totalprice DESC, o_orderkey) AS rn
                    FROM orders JOIN customer ON o_custkey = c_custkey) t
              WHERE rn <= 3""")),

    // F13 — known-bad publication days masked before transform (the
    // reference's per-market error-date table; previously spec-only).
    // The NOT-IN lands as a pushed parquet filter, so masked days prune
    // at the scan.
    ("f13_error_date_mask",
      (s, d) => graft.transform.MarketFilters.maskErrorDates(
        orders(s, d).select(col("o_orderkey"), col("o_orderdate")),
        "o_orderdate", Seq("1995-01-01", "1996-07-04", "1997-12-25")),
      Some("""SELECT o_orderkey, o_orderdate FROM orders
              WHERE CAST(o_orderdate AS DATE) NOT IN
                    (DATE '1995-01-01', DATE '1996-07-04', DATE '1997-12-25')""")),

    // F14 — DATA-QUALITY ASSERTION BATTERY (the dbt-test / Deequ shape of
    // the reference's schema gate F12): one row per rule with its
    // violation count — null keys, duplicate line identity, value-range
    // breaches, referential orphans — so a pipeline can gate a load on
    // `max(violations) == 0` without a second scan per rule. ONE pass
    // over the fact side and ONE fact exchange at ORDER grain: every
    // per-row rule is a conditional sum carried by the same
    // groupBy(l_orderkey) aggregation; duplicate line identity falls out
    // of the same pass as n − |distinct linenumbers| per order (line
    // numbers only collide within their own order), with the distinct
    // count held as a BIT MASK — bit_count(bit_or(1 << linenumber)) — so
    // every aggregate in the pass stays fixed-width and the whole
    // aggregation keeps Spark's vectorized hash map (a collect_set here
    // trips ObjectHashAggregate's 128-key sort fallback and SORTS the
    // fact table: measured 16 s at sf1 vs 2 s for this shape). The mask
    // is exact for line numbers in [0, 63]; out-of-domain groups turn
    // n_lines NULL, and the published dup count is GUARDED on that: any
    // NULL n_lines nulls the whole dup_line_identity output (a bare
    // sum(n - n_lines) would SKIP the null groups — Spark's sum ignores
    // null inputs — and silently undercount; ADVICE r12). A LOUD failure
    // the hash gate catches, never a silent wrong answer. The FK rule is
    // JOIN-FREE: the orders keys ride the same aggregation as marker
    // rows (see below) — no second exchange, no hash build/probe.
    // Map-side partials collapse the fact rows to ~|orders| before the
    // exchange because lineitem is clustered by orderkey.
    // Counts are exact integers — engine-deterministic by construction.
    // (r12 shape: 3 fact scans + 2 fact-sized exchanges, 3.7 s at sf1;
    // r13 shape: 1 scan + agg + key-probe join, 0.91 s.)
    ("f14_quality_asserts",
      (s, d) => {
        // JOIN-FREE FK rule (r14): instead of aggregating lineitem to
        // order grain and probing a deduped orders-key frame (two
        // exchanges + a 1.5M-entry hash build/probe — 7.6× the oracle's
        // single pass at sf1), the orders keys ride the SAME aggregation
        // as MARKER rows: union the fact rows (is_ord=0) with one marker
        // per order (is_ord=1, all rule columns zero, line number NULL so
        // no aggregate sees it), group once on the key, and a group
        // "matched" iff max(is_ord)=1 — NOT-EXISTS semantics exactly
        // (duplicate order keys can't fan anything out, a max doesn't
        // care). One exchange total; both sides' map-side partials
        // collapse to ~|orders| rows (lineitem is clustered by orderkey,
        // orders keys are unique). NULL marker keys are filtered: a join
        // never matches NULL, but groupBy would unite them with the
        // null-key fact group and fake a match.
        val li = lineitem(s, d).select(
          col("l_orderkey").as("k"), lit(1L).as("one"),
          when(col("l_quantity") <= 0 || col("l_quantity") > 50, 1L)
            .otherwise(0L).as("qb"),
          when(col("l_discount") < 0 || col("l_discount") > 0.1, 1L)
            .otherwise(0L).as("db"),
          when(!col("l_returnflag").isin("A", "N", "R"), 1L)
            .otherwise(0L).as("rb"),
          col("l_linenumber").cast(IntegerType).as("ln"),
          lit(0).as("is_ord"))
        val marks = orders(s, d).filter(col("o_orderkey").isNotNull)
          .select(col("o_orderkey").as("k"), lit(0L).as("one"),
            lit(0L).as("qb"), lit(0L).as("db"), lit(0L).as("rb"),
            lit(null).cast(IntegerType).as("ln"), lit(1).as("is_ord"))
        val g = li.unionAll(marks).groupBy(col("k")).agg(
          sum("one").as("n"),
          sum("qb").as("q_bad"), sum("db").as("d_bad"),
          sum("rb").as("r_bad"),
          expr("bit_count(bit_or(shiftleft(CAST(1 AS BIGINT), ln)))")
            .as("nl_mask"),
          min(col("ln")).as("ln_min"),
          max(col("ln")).as("ln_max"),
          // a null linenumber is one distinct grouping value in the
          // pair-grain formulation; aggregates skip nulls, so add it
          // back — FACT rows only (the marker's ln is null by design)
          max(when(col("ln").isNull && col("is_ord") === 0, 1)
            .otherwise(0)).as("ln_null"),
          max(col("is_ord")).as("has_ord"))
        val nLines =
          when(col("ln_min") >= 0 && col("ln_max") <= 63,
            col("nl_mask") + col("ln_null"))
            .when(col("ln_min").isNull, col("ln_null")) // all-null lines
        // orders-only groups (order with no lineitems) contribute zero
        // everywhere: n=0, rule sums 0, n_lines = ln_null = 0
        val tot = g.withColumn("n_lines", nLines)
          .agg(
            coalesce(sum(when(col("k").isNull, col("n"))
              .otherwise(0L)), lit(0L)).as("null_orderkey"),
            coalesce(sum(col("q_bad")), lit(0L)).as("quantity_range"),
            coalesce(sum(col("d_bad")), lit(0L)).as("discount_range"),
            coalesce(sum(col("r_bad")), lit(0L)).as("returnflag_domain"),
            // guard BEFORE summing: null n_lines (out-of-domain line
            // numbers) must null the published count, not be skipped
            when(coalesce(max(when(col("n_lines").isNull, 1).otherwise(0)),
                lit(0)) === 0,
              coalesce(sum(col("n") - col("n_lines")), lit(0L)))
              .as("dup_line_identity"),
            coalesce(sum(when(col("has_ord") === 0, col("n"))
              .otherwise(0L)), lit(0L)).as("orphan_orderkey"))
        tot
          .selectExpr("stack(6, " +
            "'null_orderkey', null_orderkey, " +
            "'quantity_range', quantity_range, " +
            "'discount_range', discount_range, " +
            "'returnflag_domain', returnflag_domain, " +
            "'dup_line_identity', dup_line_identity, " +
            "'orphan_orderkey', orphan_orderkey) AS (rule, violations)")
          .select(col("rule"), col("violations").cast(LongType).as("violations"))
      },
      Some("""WITH perrow AS (
                SELECT
                  SUM(CASE WHEN l_orderkey IS NULL THEN 1 ELSE 0 END)
                    AS null_orderkey,
                  SUM(CASE WHEN l_quantity <= 0 OR l_quantity > 50
                           THEN 1 ELSE 0 END) AS quantity_range,
                  SUM(CASE WHEN l_discount < 0 OR l_discount > 0.1
                           THEN 1 ELSE 0 END) AS discount_range,
                  SUM(CASE WHEN l_returnflag NOT IN ('A', 'N', 'R')
                           THEN 1 ELSE 0 END) AS returnflag_domain
                FROM lineitem),
              dup AS (
                SELECT COALESCE(SUM(n - 1), 0) AS dup_line_identity
                FROM (SELECT count(*) AS n FROM lineitem
                      GROUP BY l_orderkey, l_linenumber) t
                WHERE n > 1),
              orph AS (
                SELECT count(*) AS orphan_orderkey
                FROM lineitem l
                WHERE NOT EXISTS (SELECT 1 FROM orders o
                                  WHERE o.o_orderkey = l.l_orderkey))
              SELECT rule, CAST(violations AS BIGINT) AS violations
              FROM (
                SELECT 'null_orderkey' AS rule, null_orderkey AS violations
                FROM perrow
                UNION ALL SELECT 'quantity_range', quantity_range FROM perrow
                UNION ALL SELECT 'discount_range', discount_range FROM perrow
                UNION ALL SELECT 'returnflag_domain', returnflag_domain
                FROM perrow
                UNION ALL SELECT 'dup_line_identity', dup_line_identity
                FROM dup
                UNION ALL SELECT 'orphan_orderkey', orphan_orderkey
                FROM orph) u""")),

    // A11 — WINSORIZE stats (outlier clipping at p01/p99, the robust-stats
    // prep step): exact interpolated percentiles via the log-bucket
    // kernel in operators.Quantiles — NOT percentile(), whose per-
    // partition value→count buffer grows with the data and is the one
    // linear-memory aggregate a 100 TB run cannot afford (VERDICT r9).
    // The cutoffs are bit-identical to percentile()'s (exact order
    // statistics + the same interpolation expression) with O(buckets)
    // executor memory; clipping + tallies ride the kernel's region scan.
    ("a11_winsorize",
      // the fused two-pass operator (log-bucket rank location + one
      // leaf/clip scan with driver-side exact decimal assembly)
      (s, d) => graft.operators.Winsorize.winsorizedStats(
        s, lineitem(s, d), "l_extendedprice", 0.01, 0.99),
      Some("""WITH cuts AS (
                SELECT round(quantile_cont(l_extendedprice, 0.01), 6) AS p01,
                       round(quantile_cont(l_extendedprice, 0.99), 6) AS p99
                FROM lineitem)
              SELECT p01, p99,
                     CAST(SUM(CASE WHEN l_extendedprice < p01
                              THEN 1 ELSE 0 END) AS BIGINT) AS n_clipped_low,
                     CAST(SUM(CASE WHEN l_extendedprice > p99
                              THEN 1 ELSE 0 END) AS BIGINT) AS n_clipped_high,
                     CAST(SUM(CAST(greatest(least(l_extendedprice, p99), p01)
                                   AS DECIMAL(28,6))) AS DOUBLE)
                       AS sum_clipped
              FROM lineitem, cuts
              GROUP BY p01, p99""")),

    // A12 — fixed-width HISTOGRAM: value-distribution binning with
    // arithmetic bin ids (floor((v − lo)/w) — both engines compute the
    // identical IEEE quotient, no width_bucket dialect dependence), one
    // aggregation to ≤|bins| rows. The bin RANGE is part of the contract
    // (no data-driven min/max pass — at scale the extra full scan is the
    // cost that matters, and production histograms fix their axis).
    ("a12_histogram",
      (s, d) => lineitem(s, d)
        .select(least(floor((col("l_extendedprice") - 900) / 8000)
          .cast(IntegerType), lit(12)).as("bin"))
        .groupBy("bin").agg(count(lit(1)).as("n")),
      Some("""SELECT CAST(least(floor((l_extendedprice - 900) / 8000), 12)
                          AS INTEGER) AS bin,
                     count(*) AS n
              FROM lineitem GROUP BY 1""")),

    // A13 — EXACT multi-quantile profile (the distribution summary every
    // curation report opens with), via the same bounded-memory kernel as
    // A11/A14: quartiles of an unbounded double column with O(buckets)
    // executor memory and driver traffic, where percentile() would buffer
    // a value→count map of the whole column. All three quartiles resolve
    // from ONE histogram + ONE tagged leaf scan.
    ("a13_exact_quantiles",
      (s, d) => {
        val qs = graft.operators.Quantiles
          .percentiles(lineitem(s, d), "l_extendedprice",
            Seq(0.25, 0.5, 0.75))
          .map(graft.operators.Quantiles.round6)
        s.range(1).select(lit(qs(0)).as("q25"), lit(qs(1)).as("q50"),
          lit(qs(2)).as("q75"))
      },
      Some("""SELECT round(quantile_cont(l_extendedprice, 0.25), 6) AS q25,
                     round(quantile_cont(l_extendedprice, 0.50), 6) AS q50,
                     round(quantile_cont(l_extendedprice, 0.75), 6) AS q75
              FROM lineitem""")),

    // A14 — MEDIAN ABSOLUTE DEVIATION, the robust dispersion statistic
    // (outlier detection that, unlike stddev, a single corrupt value
    // cannot drag): a TWO-PHASE composition of the exact quantile
    // machinery — median first, then the median of |x − median| over a
    // derived column. The median is snapped to the 6-decimal gate grid
    // BEFORE the deviation pass in BOTH engines, so the second-phase
    // input is bit-identical across them by the round-6 equality the
    // gate itself establishes. Memory stays O(buckets) per pass; at scale
    // this is 2× the quantile cost, never a buffer of the column.
    ("a14_mad",
      (s, d) => {
        // FUSED two-phase shape (r13): THREE jobs — one log-bucket
        // histogram, one leaf scan per round; the deviation round's
        // histogram derives driver-side from the x-space buckets
        // (Quantiles.medianAndMad), so round 2 pays only its leaf scan.
        // The r12 shape paid ~7 jobs + two parquet decodes and measured
        // 3.5× vs the oracle at sf1.
        import graft.operators.Quantiles
        val base = Quantiles.projected(lineitem(s, d), "l_extendedprice")
        val (med, mad) = Quantiles.medianAndMad(base, Quantiles.round6)
        s.range(1).select(lit(med).as("median"),
          lit(Quantiles.round6(mad)).as("mad"))
      },
      Some("""WITH m AS (
                SELECT round(quantile_cont(l_extendedprice, 0.5), 6) AS med
                FROM lineitem),
              dv AS (SELECT abs(l_extendedprice - med) AS dev
                     FROM lineitem, m)
              SELECT (SELECT med FROM m) AS median,
                     round(quantile_cont(dev, 0.5), 6) AS mad
              FROM dv""")),

    // A15 — robust SPIKE DETECTION (the anomaly gate a price/volume feed
    // runs before publishing): |x − median| > k·MAD flags, per series.
    // Median and MAD come from the same log-bucket kernel as
    // A14 — both snapped to the 6-decimal gate grid before the flag pass,
    // so the threshold is one literal and flagging is a single narrow
    // scan + aggregation. stddev-based z-scores would let one corrupt
    // batch drag its own threshold; MAD is what holds on dirty feeds.
    ("a15_spike_flags",
      (s, d) => {
        // same fused 3-job shape as a14 (histogram + two leaf scans, the
        // deviation histogram derived driver-side), then one flag scan
        import graft.operators.Quantiles
        val ev = events(s, d).select(col("event_type"),
          col("value").cast(DoubleType).as("v"))
        val (med, mad0) =
          Quantiles.medianAndMad(Quantiles.projected(ev, "v"), Quantiles.round6)
        val mad = Quantiles.round6(mad0)
        ev.groupBy("event_type").agg(
          count(lit(1)).as("n"),
          sum(when(abs(col("v") - med) > 3.0 * mad, 1).otherwise(0))
            .cast(LongType).as("n_spikes"))
      },
      Some("""WITH m AS (
                SELECT round(quantile_cont(value, 0.5), 6) AS med
                FROM events),
              md AS (
                SELECT round(quantile_cont(abs(value - med), 0.5), 6) AS mad
                FROM events, m)
              SELECT event_type, count(*) AS n,
                     CAST(SUM(CASE WHEN abs(value - m.med) > 3 * md.mad
                              THEN 1 ELSE 0 END) AS BIGINT) AS n_spikes
              FROM events, m, md GROUP BY 1""")),

    // O5 — long→wide PIVOT, the inverse of the S3 melt: per-returnflag
    // quantity totals pivoted into one column per linestatus. Pivot values
    // are FIXED (the scale contract — value discovery would cost an extra
    // pass over the data); exact decimal sums per cell; the oracle is the
    // classic conditional-aggregation formulation.
    ("o5_pivot",
      (s, d) => lineitem(s, d)
        .groupBy(col("l_returnflag"))
        .pivot("l_linestatus", Seq("F", "O"))
        .agg(dsum2(col("l_quantity")))
        .select(col("l_returnflag"), col("F").as("qty_f"),
          col("O").as("qty_o")),
      Some("""SELECT l_returnflag,
                     CAST(SUM(CASE WHEN l_linestatus = 'F'
                              THEN CAST(l_quantity AS DECIMAL(18,2)) END)
                          AS DOUBLE) AS qty_f,
                     CAST(SUM(CASE WHEN l_linestatus = 'O'
                              THEN CAST(l_quantity AS DECIMAL(18,2)) END)
                          AS DOUBLE) AS qty_o
              FROM lineitem GROUP BY 1""")),

    // U1 — UNION ALL by name with missing columns (null-filled)
    // ref: pd.concat sites, e.g. _descargador_i90.py:282
    ("u1_union_by_name",
      (s, d) => {
        val a = orders(s, d).filter(col("o_orderstatus") === "P")
          .select(col("o_orderkey").as("id"), lit("order").as("src"),
            col("o_totalprice").as("val"))
        val b = lineitem(s, d).filter(col("l_quantity") === 50)
          .select(col("l_orderkey").as("id"), lit("line").as("src"),
            col("l_quantity").as("val"), col("l_linenumber").as("ln"))
        a.unionByName(b, allowMissingColumns = true)
      },
      Some("""SELECT o_orderkey AS id, 'order' AS src, o_totalprice AS val
              FROM orders WHERE o_orderstatus = 'P'
              UNION ALL BY NAME
              SELECT l_orderkey AS id, 'line' AS src, l_quantity AS val,
                     l_linenumber AS ln
              FROM lineitem WHERE l_quantity = 50""")),

    // U2 — set difference as a true EXCEPT (distinct semantics), the set
    // face of the anti-join family (a9_set_diff / j5_anti_rematch).
    // ref: UOF_tracking.py:279-309
    ("u2_except",
      (s, d) => customer(s, d).select(col("c_custkey").as("k"))
        .except(orders(s, d).filter(year(col("o_orderdate")) === 1995)
          .select(col("o_custkey").as("k"))),
      Some("""SELECT c_custkey AS k FROM customer
              EXCEPT
              SELECT o_custkey AS k FROM orders
              WHERE year(o_orderdate) = 1995""")),

    // SC7 — deterministic LISTAGG: per-group CSV of member ids, ordered
    // LEXICALLY in both engines (Spark's array_sort over the cast
    // strings = DuckDB's ORDER BY the cast expression — numeric order
    // would also work but then the Spark side needs a struct sort; the
    // point is an EXPLICIT shared order, never engine-default agg order,
    // which is nondeterministic in both). Bounded: the collected list is
    // group-sized, and the selective filter keeps groups small — the
    // same bounded-collect discipline as the funnel event lists.
    ("sc7_string_agg",
      (s, d) => orders(s, d).filter(col("o_orderkey") % 97 === 0)
        .groupBy(col("o_orderpriority"))
        .agg(concat_ws(",",
            array_sort(collect_list(col("o_orderkey").cast(StringType))))
            .as("keys_csv"),
          count(lit(1)).as("n")),
      Some("""SELECT o_orderpriority,
                     string_agg(CAST(o_orderkey AS VARCHAR), ','
                                ORDER BY CAST(o_orderkey AS VARCHAR))
                       AS keys_csv,
                     count(*) AS n
              FROM orders WHERE o_orderkey % 97 = 0
              GROUP BY 1""")),

    // A22 — per-group MODE (most frequent value), deterministic: both
    // engines resolve ties by (count desc, value asc) over the per-group
    // value-count frame — never the engine-specific mode() builtin,
    // whose tie rule differs. Shape: one count aggregation (map-side
    // partials), then a window over the |groups|×|distinct values|
    // aggregate frame only — the raw rows are never window-sorted.
    ("a22_mode",
      (s, d) => {
        val counts = lineitem(s, d)
          .groupBy(col("l_returnflag"), col("l_quantity"))
          .agg(count(lit(1)).as("n"))
        val w = Window.partitionBy("l_returnflag")
          .orderBy(col("n").desc, col("l_quantity"))
        counts.withColumn("rn", row_number().over(w))
          .filter(col("rn") === 1)
          .select(col("l_returnflag"), col("l_quantity").as("mode_qty"),
            col("n").as("n_occurrences"))
      },
      Some("""SELECT l_returnflag, l_quantity AS mode_qty,
                     n AS n_occurrences
              FROM (SELECT l_returnflag, l_quantity, count(*) AS n,
                           row_number() OVER (PARTITION BY l_returnflag
                               ORDER BY count(*) DESC, l_quantity) AS rn
                    FROM lineitem GROUP BY 1, 2) t
              WHERE rn = 1""")),

    // U4/U5 — the MULTISET set-op faces (EXCEPT ALL / INTERSECT ALL):
    // bag semantics keep duplicate multiplicities (m−n / min(m,n) copies)
    // where the distinct forms above collapse them — the face that
    // matters when the rows ARE occurrences (re-delivered files, repeated
    // trades). Computed via the counts identity the built-in .exceptAll/
    // .intersectAll plans lower to (aggregate + replicate — Spark's own
    // lowering, asserted equal in QueriesSpec), but over ONE scan: both
    // "sides" here are filters of the SAME table, so the per-side
    // multiplicities m and n come out of a single pass + a single
    // exchange where the built-in face scans the parquet twice and
    // unions (r13 sf1: 3.4×/3.0× the oracle, nearly all second-scan +
    // union-shuffle floor). Rows failing BOTH filters drop before the
    // exchange. NULL keys group together — exactly the
    // NULLs-compare-equal semantics SQL set ops prescribe.
    ("u4_except_all",
      (s, d) => orders(s, d)
        .select(col("o_custkey").as("k"),
          when(col("o_orderkey") % 3 === 0, 1L).otherwise(0L).as("m3"),
          when(col("o_orderkey") % 5 === 0, 1L).otherwise(0L).as("m5"))
        .filter(col("m3") === 1 || col("m5") === 1)
        .groupBy("k").agg(sum("m3").as("m"), sum("m5").as("n"))
        .select(explode(array_repeat(col("k"),
          greatest(col("m") - col("n"), lit(0L)).cast(IntegerType))).as("k")),
      Some("""SELECT o_custkey AS k FROM orders WHERE o_orderkey % 3 = 0
              EXCEPT ALL
              SELECT o_custkey AS k FROM orders
              WHERE o_orderkey % 5 = 0""")),

    ("u5_intersect_all",
      (s, d) => orders(s, d)
        .select(col("o_custkey").as("k"),
          when(col("o_orderkey") % 3 === 0, 1L).otherwise(0L).as("m3"),
          when(col("o_orderkey") % 5 === 0, 1L).otherwise(0L).as("m5"))
        .filter(col("m3") === 1 || col("m5") === 1)
        .groupBy("k").agg(sum("m3").as("m"), sum("m5").as("n"))
        .select(explode(array_repeat(col("k"),
          least(col("m"), col("n")).cast(IntegerType))).as("k")),
      Some("""SELECT o_custkey AS k FROM orders WHERE o_orderkey % 3 = 0
              INTERSECT ALL
              SELECT o_custkey AS k FROM orders
              WHERE o_orderkey % 5 = 0""")),

    // S3 — wide sheet → long melt (native unpivot; null cells dropped like
    // the reference's dropna). ref: _descargador_i90.py:197-304
    ("s3_melt",
      (s, d) => {
        val wide = orders(s, d).filter(col("o_orderkey") % 20 === 0)
          .select(col("o_orderkey"),
            col("o_totalprice").as("h1"),
            (col("o_custkey") % 100).cast(DoubleType).as("h2"),
            when(col("o_orderstatus") === "F", lit(null).cast(DoubleType))
              .otherwise(length(col("o_orderpriority")).cast(DoubleType)).as("h3"))
        graft.ingest.Ingest.melt(wide, Seq("o_orderkey"), Seq("h1", "h2", "h3"))
      },
      Some("""UNPIVOT (SELECT o_orderkey, o_totalprice AS h1,
                              CAST(o_custkey % 100 AS DOUBLE) AS h2,
                              CASE WHEN o_orderstatus = 'F' THEN NULL
                                   ELSE CAST(length(o_orderpriority) AS DOUBLE)
                              END AS h3
                       FROM orders WHERE o_orderkey % 20 = 0)
              ON h1, h2, h3 INTO NAME hora VALUE volumenes""")),

    // U3 — intersect, fused (r15). Spark's built-in Intersect lowers to
    // Distinct + left-semi join with BOTH full sides exchanged (r14 sf1:
    // 0.57 s / 5.7× — its siblings u4/u5 got their fusion a round
    // earlier). The u4/u5 marker identity generalizes to two tables:
    // union both key streams with a side marker and take ONE aggregation
    // — k is in the intersection iff both markers appear. Map-side
    // partial agg collapses each side to its distinct keys per partition
    // BEFORE the single exchange, there is no broadcast build job (no
    // driver collect, no small-side assumption — the shape that holds
    // when both sides are fact-sized at 100 TB), and NULL keys group
    // together, exactly the NULLs-compare-equal face INTERSECT
    // prescribes. A semi-join challenger (broadcast dim side) measured
    // 0.59 s at sf1 — the broadcast build job IS its floor; this form
    // measures the scan + one exchange only.
    // ref: p48_tecnologias_generacion.py:88
    ("u3_intersect",
      (s, d) => orders(s, d)
        .select(col("o_custkey").as("k"), lit(1).as("side"))
        .unionByName(customer(s, d).filter(col("c_acctbal") > 0)
          .select(col("c_custkey").as("k"), lit(2).as("side")))
        .groupBy("k")
        .agg(max(when(col("side") === 1, 1)).as("in_o"),
          max(when(col("side") === 2, 1)).as("in_c"))
        .filter(col("in_o") === 1 && col("in_c") === 1)
        .select("k"),
      Some("""SELECT o_custkey AS k FROM orders
              INTERSECT
              SELECT c_custkey AS k FROM customer WHERE c_acctbal > 0""")),

    // SC1 — string function family (split head, lpad code, replace)
    // ref: configs/i90_config.py:97, _descargador_omie.py:367-383
    ("sc1_string_fns",
      (s, d) => part(s, d).select(col("p_partkey"),
        upper(split(col("p_name"), " ").getItem(0)).as("head"),
        lpad(col("p_size").cast(StringType), 3, "0").as("size_code"),
        regexp_replace(col("p_type"), " ", "_").as("type_code")),
      Some("""SELECT p_partkey, upper(split_part(p_name, ' ', 1)) AS head,
                     lpad(CAST(p_size AS VARCHAR), 3, '0') AS size_code,
                     replace(p_type, ' ', '_') AS type_code
              FROM part""")),

    // SC2 — date/time function family
    ("sc2_datetime_fns",
      (s, d) => orders(s, d).filter(col("o_orderkey") % 10 === 0)
        .select(col("o_orderkey"),
          year(col("o_orderdate")).as("y"), month(col("o_orderdate")).as("m"),
          dayofmonth(col("o_orderdate")).as("dd"),
          date_trunc("month", col("o_orderdate")).cast(DateType).as("mes")),
      Some("""SELECT o_orderkey, CAST(year(o_orderdate) AS INTEGER) AS y,
                     CAST(month(o_orderdate) AS INTEGER) AS m,
                     CAST(day(o_orderdate) AS INTEGER) AS dd,
                     CAST(date_trunc('month', o_orderdate) AS DATE) AS mes
              FROM orders WHERE o_orderkey % 10 = 0""")),

    // SC3 — math family; money products published via exact DECIMAL(18,4)
    ("sc3_math_fns",
      (s, d) => lineitem(s, d).filter(col("l_orderkey") % 7 === 0)
        .select(col("l_orderkey"), col("l_linenumber"),
          dec4(col("l_extendedprice") * (lit(1) - col("l_discount")))
            .cast(DoubleType).as("neto"),
          abs(col("l_quantity") - 25).as("dist"),
          signum(col("l_discount") - 0.05).cast(IntegerType).as("sgn")),
      Some("""SELECT l_orderkey, l_linenumber,
                     CAST(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,4))
                          AS DOUBLE) AS neto,
                     abs(l_quantity - 25) AS dist,
                     CAST(sign(l_discount - 0.05) AS INTEGER) AS sgn
              FROM lineitem WHERE l_orderkey % 7 = 0""")),

    // SC4 — map-literal lookup (config-as-data dictionary)
    // ref: _procesador_esios.py:159-188
    ("sc4_map_lookup",
      (s, d) => {
        val m = typedLit(Map(0 -> "AFRICA", 1 -> "AMERICA", 2 -> "ASIA",
          3 -> "EUROPE", 4 -> "MIDDLE EAST"))
        nation(s, d).select(col("n_nationkey"), col("n_name"),
          m(col("n_regionkey")).as("region_name"))
      },
      Some("""SELECT n_nationkey, n_name,
                     CASE n_regionkey WHEN 0 THEN 'AFRICA' WHEN 1 THEN 'AMERICA'
                          WHEN 2 THEN 'ASIA' WHEN 3 THEN 'EUROPE'
                          WHEN 4 THEN 'MIDDLE EAST' END AS region_name
              FROM nation""")),

    // SC5 — md5(concat_ws) profile hash primitive
    // ref: _linking_algorithm.py:175-190
    ("sc5_md5_hash",
      (s, d) => customer(s, d).select(col("c_custkey"),
        md5(concat_ws(",", col("c_name"), col("c_custkey").cast(StringType),
          col("c_mktsegment"))).as("h")),
      Some("""SELECT c_custkey,
                     md5(concat_ws(',', c_name, CAST(c_custkey AS VARCHAR),
                                   c_mktsegment)) AS h
              FROM customer""")),

    // SC6 — JSON field extraction (from_json on the Spark side)
    // ref: _descargador_esios.py:204-239
    ("sc6_json_extract",
      (s, d) => events(s, d)
        .withColumn("j", from_json(col("props"), StructType(Seq(
          StructField("k", IntegerType)))))
        .select(col("event_id"), col("j.k").as("k")),
      Some("""SELECT event_id,
                     CAST(regexp_extract(props, '"k": (\d+)', 1) AS INTEGER) AS k
              FROM events""")),

    // S9/O3 — latest-partition discovery as a pruning aggregate
    // ref: utilidades/raw_file_utils.py:316-419
    ("s9_latest_partition",
      (s, d) => orders(s, d).agg(max(col("o_orderdate")).as("mx"))
        .select(year(col("mx")).as("y"), month(col("mx")).as("m")),
      Some("""SELECT CAST(year(mx) AS INTEGER) AS y, CAST(month(mx) AS INTEGER) AS m
              FROM (SELECT max(o_orderdate) AS mx FROM orders) t""")),

    // O7 — MISSING-PARTITION discovery (the backfill probe behind the
    // reference's 93-day download window: which expected partitions have
    // never landed?): the loaded set is a distinct aggregate — map-side
    // partials shrink it to |partitions| rows per task — anti-joined
    // from a literal calendar grid, so the whole probe is
    // metadata-sized however big the lake is. Gap months are simulated
    // by withholding month ≡ 2 (mod 5) from the loaded set; trailing
    // months past the last load surface as missing too, exactly what a
    // backfill wants. ref: extract/esios_extractor.py:44,
    // utilidades/raw_file_utils.py:316-419
    ("o7_missing_partitions",
      (s, d) => {
        val loaded = orders(s, d)
          .filter(month(col("o_orderdate")) % 5 =!= 2)
          .select(year(col("o_orderdate")).cast(IntegerType).as("y"),
            month(col("o_orderdate")).cast(IntegerType).as("m"))
          .distinct()
        val grid = s.range(1992, 1999)
          .select(col("id").cast(IntegerType).as("y"))
          .crossJoin(s.range(1, 13).select(col("id").cast(IntegerType).as("m")))
        grid.join(broadcast(loaded), Seq("y", "m"), "left_anti")
      },
      Some("""WITH loaded AS (
                SELECT DISTINCT CAST(year(o_orderdate) AS INTEGER) AS y,
                       CAST(month(o_orderdate) AS INTEGER) AS m
                FROM orders WHERE month(o_orderdate) % 5 <> 2),
              grid AS (
                SELECT CAST(g.y AS INTEGER) AS y, CAST(h.m AS INTEGER) AS m
                FROM generate_series(1992, 1998) g(y),
                     generate_series(1, 12) h(m))
              SELECT y, m FROM grid
              WHERE NOT EXISTS (SELECT 1 FROM loaded l
                                WHERE l.y = grid.y AND l.m = grid.m)""")),

    // O8 — EXACT JOIN-SIZE computation (what AQE estimates from sketches,
    // computed exactly): |A ⋈ B| on the join key = Σ_k n_A(k)·n_B(k)
    // over per-key counts — two map-side-shrunk aggregates joined at
    // |distinct keys| grain, never the join itself. The number that
    // decides broadcast vs shuffle vs salt BEFORE paying for the join;
    // at 100 TB the counts frames are the (bounded) expensive part and
    // the arithmetic is free.
    ("o8_join_size",
      (s, d) => {
        // Both counts frames leave their aggregations hash-partitioned on
        // k, so the join needs no exchange; the shuffle_hash hint skips
        // the sort-merge sorts a 1-1 key join doesn't need. This shape
        // was re-validated against two r14 challengers at sf1 and kept:
        // union-aggregate (tag rows, one exchange) measured 0.73 s — the
        // marker rows double the exchange width; raw-orders-probe (skip
        // the orders-side agg, dedup the join output) measured 0.92 s —
        // the 1.5M-row post-join dedup out-costs the agg it saved. The
        // two co-partitioning exchanges here are the minimum any
        // distributed engine pays for exact per-key count composition;
        // the residual vs the oracle is single-process vs serialized
        // exchange, not plan fat (see bench_notes_r14.md).
        val a = lineitem(s, d).groupBy(col("l_orderkey").as("k"))
          .agg(count(lit(1)).as("na"))
        val b = orders(s, d).groupBy(col("o_orderkey").as("k"))
          .agg(count(lit(1)).as("nb"))
        a.join(b.hint("shuffle_hash"), "k")
          .agg(sum(col("na") * col("nb")).cast(LongType).as("join_rows"),
            count(lit(1)).cast(LongType).as("matched_keys"))
      },
      Some("""WITH a AS (SELECT l_orderkey AS k, count(*) AS na
                         FROM lineitem GROUP BY 1),
                   b AS (SELECT o_orderkey AS k, count(*) AS nb
                         FROM orders GROUP BY 1)
              SELECT CAST(SUM(na * nb) AS BIGINT) AS join_rows,
                     CAST(count(*) AS BIGINT) AS matched_keys
              FROM a JOIN b USING (k)""")),

    // O9 — JOIN-KEY SKEW REPORT: the diagnostic that motivates the j12
    // salted join — per-key frequencies aggregated once, then the heavy
    // hitters (bounded top-k, TakeOrdered — never a global sort) next to
    // the robust center of the distribution (exact median key count via
    // the grouped value-counts quantile path: counts-of-counts is a tiny
    // bounded domain). max/median > ~100 is the "salt this key" signal.
    ("o9_skew_report",
      (s, d) => {
        val counts = lineitem(s, d)
          .groupBy(col("l_suppkey")).agg(count(lit(1)).as("n"))
        val med = graft.operators.Quantiles
          .grouped(counts.select(lit(1).as("g"),
            col("n").cast(DoubleType).as("nv")), Seq("g"), "nv",
            Seq(0.5), Seq("med")).select("med")
        counts.orderBy(col("n").desc, col("l_suppkey")).limit(5)
          .crossJoin(broadcast(med))
          .select(col("l_suppkey"), col("n"),
            round(col("n") / col("med"), 6).as("x_median"))
      },
      Some("""WITH c AS (SELECT l_suppkey, count(*) AS n
                         FROM lineitem GROUP BY 1),
                   m AS (SELECT quantile_cont(CAST(n AS DOUBLE), 0.5) AS med
                         FROM c)
              SELECT l_suppkey, n, round(n / med, 6) AS x_median
              FROM (SELECT l_suppkey, n FROM c
                    ORDER BY n DESC, l_suppkey LIMIT 5) t, m""")),

    // S11 — predicate-pushdown scan (filters reach the parquet reader)
    // ref: utilidades/db_utils.py:224-301
    ("s11_pruned_scan",
      (s, d) => lineitem(s, d)
        .filter(col("l_shipdate") >= "2000-01-01" && col("l_quantity") > 45)
        .select("l_orderkey", "l_shipdate", "l_quantity"),
      Some("""SELECT l_orderkey, l_shipdate, l_quantity FROM lineitem
              WHERE l_shipdate >= '2000-01-01' AND l_quantity > 45"""))
  )
}
