package graft.queries

import graft.Tables._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Join suite from SURVEY.md §2.3 — fact×fact equi-joins, anti/semi diff
  * joins, and the UP↔UOF profile-hash linking algorithm (J3-J6).
  */
object Joins {

  type Q = (SparkSession, String) => DataFrame

  /** Per-entity daily-profile hash: groupBy(entity, day) exact sum, format
    * each (day, sum) pair as a canonical string, md5 the sorted join.
    * The up-front repartition on the entity key alone is deliberate: its
    * HashPartitioning satisfies the ClusteredDistribution of BOTH the
    * (entity, day) and the entity aggregation, so the whole two-level
    * pipeline runs on ONE shuffle — and because (entity, day) is nearly a
    * key of lineitem (~0.9 groups/row), map-side partial aggregation had
    * nothing to combine anyway.
    * ref: vinculacion/_linking_algorithm.py:175-280
    */
  private def profileHashes(s: SparkSession, d: String): DataFrame =
    lineitem(s, d)
      .transform(pinnedRepartition(_, col("l_suppkey")))
      .groupBy(col("l_suppkey"), col("l_shipdate").cast(DateType).as("dia"))
      .agg(sum(dec2(col("l_quantity"))).as("v"))
      .select(col("l_suppkey"),
        concat(col("dia").cast(StringType), lit(":"),
          col("v").cast(StringType)).as("els"))
      .groupBy("l_suppkey")
      .agg(md5(array_join(sort_array(collect_list(col("els"))), ",")).as("h"))

  private val profileHashSql =
    """WITH p AS (
         SELECT l_suppkey, CAST(l_shipdate AS DATE) AS dia,
                SUM(CAST(l_quantity AS DECIMAL(18,2))) AS v
         FROM lineitem GROUP BY 1, 2),
       e AS (
         SELECT l_suppkey,
                concat(CAST(dia AS VARCHAR), ':', CAST(v AS VARCHAR)) AS els
         FROM p),
       h AS (
         SELECT l_suppkey, md5(string_agg(els, ',' ORDER BY els)) AS h
         FROM e GROUP BY l_suppkey)"""

  /** ONE oracle for both j9 arms (shuffled and bucketed): same values,
    * different physical plans — a shared val so an edit cannot silently
    * desynchronize the twins.
    */
  private val j9OracleSql: Option[String] =
    Some("""SELECT o_orderpriority, CAST(date_trunc('month', o_orderdate) AS DATE) AS mes,
                   CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,4)))
                        AS DOUBLE) AS revenue,
                   count(*) AS n
            FROM lineitem JOIN orders ON l_orderkey = o_orderkey
            GROUP BY 1, 2""")

  /** ONE SQL text executed verbatim by BOTH engines (sql1_tpch_q3): the
    * S12-analog proof that the free-form SQL surface (Reader.registerView
    * + spark.sql — what an NL layer would emit) yields the same rows as
    * the typed facade. The text stays in the ANSI subset the two dialects
    * share; money sums use the dsum4 decimal-snap convention.
    */
  private val q3Sql: String =
    """SELECT l_orderkey,
              CAST(SUM(CAST(l_extendedprice * (1 - l_discount)
                            AS DECIMAL(18,4))) AS DOUBLE) AS revenue,
              CAST(o_orderdate AS DATE) AS odate,
              o_orderpriority
       FROM customer
       JOIN orders ON c_custkey = o_custkey
       JOIN lineitem ON l_orderkey = o_orderkey
       WHERE c_mktsegment = 'BUILDING'
         AND o_orderdate < TIMESTAMP '1997-03-15 00:00:00'
         AND l_shipdate > TIMESTAMP '1997-03-15 00:00:00'
       GROUP BY l_orderkey, o_orderdate, o_orderpriority
       ORDER BY revenue DESC, odate, l_orderkey
       LIMIT 10"""

  /** The shared exchange-free j9 join over session-bucketed fact copies:
    * both facts are bucketed on the join key at ingest (Lake.writeBucketed),
    * so the join runs with NO Exchange on the join key — the shuffle was
    * paid once at write time, never per query. Returns the joined rows
    * (with the build-side month bucket derived pre-join); callers put
    * their aggregation shape on top (plain groupBy for j9, rollup for a10).
    */
  private def bucketedJ9Join(s: SparkSession, d: String): DataFrame = {
    // keyed by source dir AND application id: concurrent driver
    // processes (bench + correctness, the r5 race) must never share —
    // or delete under — each other's bucketed copies
    val sfx = java.security.MessageDigest.getInstance("MD5")
      .digest(s"$d:${s.sparkContext.applicationId}".getBytes("UTF-8"))
      .map("%02x".format(_)).mkString.take(12)
    val liT = s"b9_lineitem_$sfx"
    val orT = s"b9_orders_$sfx"
    def build(tbl: String, keys: Seq[String])(df: => DataFrame): Unit =
      if (!s.catalog.tableExists(tbl)) {
        // EXTERNAL table under the system temp dir: a fresh session's
        // in-memory catalog has no tables, and pointing the data at a
        // per-app temp location (cleared first — a crashed run's
        // leftovers would fail the CTAS) keeps the repo warehouse
        // clean and concurrent processes fully isolated. A shutdown
        // hook reclaims the copies so repeated runs don't accumulate
        // scratch parquet in the temp dir.
        val loc = s"${graft.Tables.tmpDir}/graft_$tbl"
        val p = new org.apache.hadoop.fs.Path(loc)
        val fs = p.getFileSystem(s.sparkContext.hadoopConfiguration)
        fs.delete(p, true)
        // bucket count = the session's shuffle parallelism: a bucketed
        // scan runs ONE task per bucket, so fewer buckets than cores
        // throttles every zero-exchange query to the bucket count (the
        // sf1 run measured the 8-bucket rollup at 8/32 cores). At 100 TB
        // the same knob is sized from data volume per bucket instead.
        val nb = s.conf.get("spark.sql.shuffle.partitions").toInt
        // repartition on the bucket key first so each bucket is ONE file:
        // an unpartitioned CTAS writes a file per (write task × bucket),
        // and a multi-file bucket forfeits the sortBy order at read time
        // (Spark re-sorts both sides — measured as most of the bucketed
        // join's 3.4× at sf1)
        graft.lake.Lake.writeBucketed(
          df.repartition(nb, keys.map(col): _*), tbl, keys, nb, Some(loc))
        sys.addShutdownHook {
          try fs.delete(p, true) catch { case _: Exception => () }
        }
      }
    build(liT, Seq("l_orderkey"))(lineitem(s, d)
      .select(col("l_orderkey"), col("l_extendedprice"),
        col("l_discount")))
    build(orT, Seq("o_orderkey"))(orders(s, d)
      .select(col("o_orderkey"), col("o_orderpriority"),
        col("o_orderdate")))
    // shuffle_hash: buckets co-locate the keys, so the hash join runs
    // bucket-to-bucket with NO exchange and NO sort — a sort-merge here
    // would re-sort both sides whenever bucket file layout (or a
    // mid-plan projection) hides the written sort order
    s.table(liT)
      .join(s.table(orT).select(col("o_orderkey"),
        col("o_orderpriority"),
        date_trunc("month", col("o_orderdate")).cast(DateType).as("mes"))
        .hint("shuffle_hash"),
        col("l_orderkey") === col("o_orderkey"))
  }

  val all: Seq[(String, Q, Option[String])] = Seq(

    // J1/W10 — session-cumulative differencing as an ordered lag window:
    // net value = current − previous program for the same entity.
    // ref: _procesador_i90.py:504-553 (left join cur/prev + fillna(0))
    ("j1_session_diff",
      (s, d) => {
        val w = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
        events(s, d)
          .withColumn("delta",
            (dec2(col("value")) - dec2(lag(col("value"), 1, 0.0).over(w)))
              .cast(DoubleType))
          .select("event_id", "user_id", "delta")
      },
      Some("""SELECT event_id, user_id,
                     CAST(CAST(value AS DECIMAL(18,2))
                          - CAST(lag(value, 1, 0.0)
                                 OVER (PARTITION BY user_id
                                       ORDER BY CAST(ts AS TIMESTAMP), event_id)
                              AS DECIMAL(18,2)) AS DOUBLE) AS delta
              FROM events""")),

    // J2 — diario-baseline prep: filter + groupBy sum + representative id
    // ref: _procesador_i90.py:448-502
    ("j2_baseline_prep",
      (s, d) => lineitem(s, d)
        .filter(col("l_linestatus") === "O" && col("l_returnflag") === "N")
        .groupBy(col("l_suppkey"), col("l_shipdate"))
        .agg(dsum2(col("l_quantity")).as("volumenes"),
          min(col("l_orderkey")).as("first_order"))
        .withColumn("id_mercado", lit(1)),
      Some("""SELECT l_suppkey, l_shipdate,
                     CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS volumenes,
                     min(l_orderkey) AS first_order, 1 AS id_mercado
              FROM lineitem WHERE l_linestatus = 'O' AND l_returnflag = 'N'
              GROUP BY l_suppkey, l_shipdate""")),

    // J3 — profile-hash match join (self-match over the supplier universe,
    // same mechanics as UP↔UOF: identical profile ⇒ identical md5 ⇒ pair).
    // ref: _linking_algorithm.py:332-378
    ("j3_profile_hash_match",
      (s, d) => {
        // materialize the hashed profiles once (~|entities| tiny rows),
        // then self-join on h — the oracle's own shape. The join's per-key
        // match buffers SPILL (ExternalAppendOnlyUnsafeRowArray), unlike
        // the previous collect_list-of-keys aggregation state, which
        // materialized a hot hash's entire entity list in one agg buffer
        // (ADVICE r6) — the quadratic blowup of a degenerate hash belongs
        // in the (spillable, streamed) join output, never in memory
        val h = profileHashes(s, d).mat()
        h.select(col("h"), col("l_suppkey").as("up"))
          .join(h.select(col("h"), col("l_suppkey").as("uof")), "h")
          .select("up", "uof", "h")
      },
      Some(profileHashSql +
        """ SELECT a.l_suppkey AS up, b.l_suppkey AS uof, a.h AS h
            FROM h a JOIN h b ON a.h = b.h""")),

    // J4 — ambiguous-hash resolution: unique↔unique hashes match exactly;
    // ambiguous hash groups resolve only where the names are string-equal.
    // suppkey%5 rows get a per-name (unique) hash → the exact arm; the rest
    // share their nation's hash → the ambiguous/name arm.
    // ref: _linking_algorithm.py:380-424
    ("j4_name_resolution",
      (s, d) => {
        val u = supplier(s, d).select(col("s_name").as("entity"),
          when(col("s_suppkey") % 5 === 0, md5(col("s_name")))
            .otherwise(md5(col("s_nationkey").cast(StringType))).as("h"))
        graft.link.Linking.matchRound(u, u)
      },
      Some("""WITH u AS (
                SELECT s_name AS entity,
                       CASE WHEN s_suppkey % 5 = 0 THEN md5(s_name)
                            ELSE md5(CAST(s_nationkey AS VARCHAR)) END AS h
                FROM supplier),
              a AS (SELECT entity AS up, h,
                           count(*) OVER (PARTITION BY h) AS na FROM u),
              b AS (SELECT entity AS uof, h,
                           count(*) OVER (PARTITION BY h) AS nb FROM u)
              SELECT up, uof, a.h AS h,
                     CASE WHEN na = 1 AND nb = 1 THEN 'exact'
                          ELSE 'name' END AS match_type
              FROM a JOIN b ON a.h = b.h
              WHERE (na = 1 AND nb = 1) OR up = uof""")),

    // J5 — historical rematch round: entities unmatched in period A
    // (anti-join) that do match in period B (semi-join).
    // ref: _linking_algorithm.py:644-698
    ("j5_anti_rematch",
      (s, d) => {
        val o = orders(s, d)
        val y95 = o.filter(year(col("o_orderdate")) === 1995)
        val y96 = o.filter(year(col("o_orderdate")) === 1996)
        customer(s, d)
          .join(y95, col("c_custkey") === y95("o_custkey"), "left_anti")
          .join(y96, col("c_custkey") === y96("o_custkey"), "left_semi")
          .select("c_custkey")
      },
      Some("""SELECT c_custkey FROM customer
              WHERE c_custkey NOT IN (SELECT o_custkey FROM orders
                                      WHERE year(o_orderdate) = 1995)
                AND c_custkey IN (SELECT o_custkey FROM orders
                                  WHERE year(o_orderdate) = 1996)""")),

    // J6 — conflict resolution: keep only groups with exactly one member
    // (count over an unordered partition window).
    // ref: _linking_algorithm.py:426-466
    ("j6_conflict_prune",
      (s, d) => {
        val w = Window.partitionBy(col("o_custkey"), col("o_orderdate").cast(DateType))
        orders(s, d).withColumn("c", count(lit(1)).over(w))
          .filter(col("c") === 1).select("o_custkey", "o_orderkey")
      },
      Some("""SELECT o_custkey, o_orderkey FROM (
                SELECT o_custkey, o_orderkey,
                       count(*) OVER (PARTITION BY o_custkey,
                                      CAST(o_orderdate AS DATE)) AS c
                FROM orders) t WHERE c = 1""")),

    // J7 — dimension-tracking diff: new / obsolete / changed via full outer
    // join of two snapshot aggregates.
    // ref: tracking/UOF_tracking.py:248-412
    ("j7_tracking_diff",
      (s, d) => {
        // single-scan formulation of the two-snapshot full-outer diff: one
        // pass over orders, conditional counts per snapshot, then the
        // new/obsolete/changed derivation — one shuffle instead of two
        // aggregates + a full-outer join (same result: a count of 0 here
        // is exactly "absent from that snapshot")
        val y = year(col("o_orderdate"))
        orders(s, d).filter(y.isin(1995, 1996))
          .groupBy(col("o_custkey").as("custkey"))
          .agg(count(when(y === 1995, 1)).as("na"),
            count(when(y === 1996, 1)).as("nb"))
          .select(col("custkey"),
            when(col("na") === 0, "new")
              .when(col("nb") === 0, "obsolete")
              .when(col("na") =!= col("nb"), "changed")
              .otherwise("same").as("status"))
      },
      Some("""WITH a AS (SELECT o_custkey, count(*) AS n FROM orders
                         WHERE year(o_orderdate) = 1995 GROUP BY 1),
                   b AS (SELECT o_custkey, count(*) AS n FROM orders
                         WHERE year(o_orderdate) = 1996 GROUP BY 1)
              SELECT coalesce(a.o_custkey, b.o_custkey) AS custkey,
                     CASE WHEN a.o_custkey IS NULL THEN 'new'
                          WHEN b.o_custkey IS NULL THEN 'obsolete'
                          WHEN a.n <> b.n THEN 'changed'
                          ELSE 'same' END AS status
              FROM a FULL OUTER JOIN b ON a.o_custkey = b.o_custkey""")),

    // J7 (persistence arm) — the change-log rows the reference writes after
    // the snapshot diff: habilitada/obsoleta transitions + one row per
    // changed attribute. Attribute values log as strings; the money sum
    // stays DECIMAL so both engines render identical text.
    // ref: tracking/UOF_tracking.py:248-412
    ("j7_change_log",
      (s, d) => {
        val o = orders(s, d)
        def snap(y: Int) = o.filter(year(col("o_orderdate")) === y)
          .groupBy("o_custkey")
          .agg(count(lit(1)).as("n"), sum(dec2(col("o_totalprice"))).as("tot"))
        graft.link.Tracking.changeLog(snap(1996), snap(1995), "o_custkey",
          Seq("n", "tot"), lit(java.sql.Date.valueOf("1996-12-31")))
      },
      Some("""WITH a AS (SELECT o_custkey, count(*) AS n,
                                SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS tot
                         FROM orders WHERE year(o_orderdate) = 1995 GROUP BY 1),
                   b AS (SELECT o_custkey, count(*) AS n,
                                SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS tot
                         FROM orders WHERE year(o_orderdate) = 1996 GROUP BY 1),
                   j AS (SELECT coalesce(a.o_custkey, b.o_custkey) AS o_custkey,
                                a.n AS pn, a.tot AS pt, b.n AS cn, b.tot AS ct,
                                a.o_custkey IS NOT NULL AS in_p,
                                b.o_custkey IS NOT NULL AS in_c
                         FROM a FULL OUTER JOIN b ON a.o_custkey = b.o_custkey)
              SELECT o_custkey, 'habilitada' AS field_changed,
                     'false' AS old_value, 'true' AS new_value,
                     DATE '1996-12-31' AS date_updated
              FROM j WHERE NOT in_p
              UNION ALL
              SELECT o_custkey, 'obsoleta', 'false', 'true', DATE '1996-12-31'
              FROM j WHERE NOT in_c
              UNION ALL
              SELECT o_custkey, 'n', CAST(pn AS VARCHAR), CAST(cn AS VARCHAR),
                     DATE '1996-12-31'
              FROM j WHERE in_p AND in_c AND pn <> cn
              UNION ALL
              SELECT o_custkey, 'tot', CAST(pt AS VARCHAR), CAST(ct AS VARCHAR),
                     DATE '1996-12-31'
              FROM j WHERE in_p AND in_c AND pt <> ct""")),

    // J8 — dimension inner join (broadcast the 5-row side)
    // ref: configs/i90_config.py:146-153
    ("j8_dim_join",
      (s, d) => nation(s, d)
        .join(broadcast(region(s, d)), col("n_regionkey") === col("r_regionkey"))
        .select("n_nationkey", "n_name", "r_name"),
      Some("""SELECT n_nationkey, n_name, r_name
              FROM nation JOIN region ON n_regionkey = r_regionkey""")),

    // J10 (additive) — as-of join: every volume row gets the most recent
    // price at-or-before its timestamp, per entity. Oracled by DuckDB's
    // NATIVE `ASOF LEFT JOIN` — a fully independent implementation of the
    // operator's semantics. Quotes are deduplicated to one per (key, ts)
    // (both engines' as-of semantics are undefined under equal-ts quote
    // duplicates).
    ("j10_asof_join",
      (s, d) => {
        val ev = events(s, d)
        val quotes = ev.filter(pmod(col("event_id"), lit(5)) === 0)
          .groupBy(col("user_id"), col("ts")).agg(max(col("value")).as("price"))
        val facts = ev.filter(pmod(col("event_id"), lit(5)) =!= 0)
          .select(col("event_id"), col("user_id"), col("ts"),
            col("value").as("vol"))
        graft.operators.AsOfJoin.asOf(facts, quotes, "user_id", "ts",
          Seq("price"))
          .select("event_id", "user_id", "ts", "vol", "price")
      },
      Some("""WITH quotes AS (
                SELECT user_id, CAST(ts AS TIMESTAMP) AS ts,
                       max(value) AS price
                FROM events WHERE event_id % 5 = 0 GROUP BY 1, 2),
              facts AS (
                SELECT event_id, user_id, CAST(ts AS TIMESTAMP) AS ts,
                       value AS vol
                FROM events WHERE event_id % 5 <> 0)
              SELECT f.event_id, f.user_id, f.ts, f.vol, q.price
              FROM facts f ASOF LEFT JOIN quotes q
                ON f.user_id = q.user_id AND f.ts >= q.ts""")),

    // J14 (additive) — NULL-SAFE equi-join (`<=>` / IS NOT DISTINCT
    // FROM): the join face ordinary equality silently drops — NULL keys
    // match each other. The reference's dim keys go NULL on unmapped
    // sheets (F4/F5's strict arm raises; the lenient arm carries NULL),
    // and reconciling two such feeds needs null-buckets to PAIR, not
    // vanish. Aggregated to per-key match counts so the result stays
    // |keys|-sized. Formulated as aggregate-pushdown-below-join: a
    // many-to-many join aggregated per key never needs the pair fan-out
    // (count(joined rows) = nL(k)·nR(k)), and the raw `<=>` plan hashes
    // every NULL row to ONE partition — the sf1 run measured the
    // null×null block as a single 18 s task. Pre-aggregating both sides
    // leaves a |keys|-row null-safe join (broadcast), exact same result.
    ("j14_nullsafe_join",
      (s, d) => {
        def keyed(df: DataFrame) = df.select(
          when(col("event_id") % 7 === 0, lit(null))
            .otherwise(pmod(col("user_id"), lit(10))).cast(IntegerType)
            .as("k"), col("event_id"))
        val l = keyed(events(s, d).filter(col("event_id") % 97 === 0))
          .withColumnRenamed("k", "lk").withColumnRenamed("event_id", "lid")
          .groupBy(col("lk"))
          .agg(count(lit(1)).as("n_l"), countDistinct(col("lid")).as("n_left"))
        val r = keyed(events(s, d).filter(col("event_id") % 3 === 0))
          .groupBy(col("k")).agg(count(lit(1)).as("n_r"))
        l.join(broadcast(r), col("lk") <=> col("k"))
          .select(col("lk"), (col("n_l") * col("n_r")).as("n_matches"),
            col("n_left"))
      },
      Some("""WITH l AS (
                SELECT CASE WHEN event_id % 7 = 0 THEN NULL
                            ELSE CAST(user_id % 10 AS INTEGER) END AS lk,
                       event_id AS lid
                FROM events WHERE event_id % 97 = 0),
              r AS (
                SELECT CASE WHEN event_id % 7 = 0 THEN NULL
                            ELSE CAST(user_id % 10 AS INTEGER) END AS k
                FROM events WHERE event_id % 3 = 0)
              SELECT lk, count(*) AS n_matches,
                     count(DISTINCT lid) AS n_left
              FROM l JOIN r ON l.lk IS NOT DISTINCT FROM r.k
              GROUP BY lk""")),

    // J11 (additive) — range join: events matched to the 45-minute windows
    // (per user) that contain them. The bucket-binned equi-join
    // formulation — never the broadcast-nested-loop plan the naive
    // BETWEEN predicate produces (PlanAuditSpec gates this).
    ("j11_range_join",
      (s, d) => {
        val ev = events(s, d)
        val anchors = ev.filter(pmod(col("event_id"), lit(10)) === 0)
          .select(col("event_id").as("anchor_id"), col("user_id"),
            col("ts").as("start_ts"),
            (col("ts") + expr("INTERVAL 45 MINUTES")).as("end_ts"))
        val facts = ev.select(col("event_id"), col("user_id"), col("ts"))
        graft.operators.RangeJoin.byContainment(facts, anchors,
            "user_id", "ts", "start_ts", "end_ts", bucketSeconds = 900)
          .select("anchor_id", "event_id", "user_id")
      },
      Some("""WITH anchors AS (
                SELECT event_id AS anchor_id, user_id,
                       CAST(ts AS TIMESTAMP) AS start_ts,
                       CAST(ts AS TIMESTAMP) + INTERVAL 45 MINUTE AS end_ts
                FROM events WHERE event_id % 10 = 0),
              facts AS (
                SELECT event_id, user_id, CAST(ts AS TIMESTAMP) AS ts
                FROM events)
              SELECT a.anchor_id, f.event_id, f.user_id
              FROM anchors a JOIN facts f
                ON a.user_id = f.user_id
               AND f.ts >= a.start_ts AND f.ts <= a.end_ts""")),

    // J9 — precios×volumenes-shaped fact join + time-bucketed aggregate
    // ref: read/natlanguage_duckdb_queries.py:254-275
    // S12 analog — the SAME SQL text runs in Spark (over registered views
    // of the lake tables) and in the DuckDB oracle: the NL/free-form path
    // and the typed path cannot drift. TPC-H Q3 shape: selective dim
    // filter → fact join → money rollup → deterministic top-10
    // (TakeOrderedAndProject — per-partition heaps, no global sort).
    ("sql1_tpch_q3",
      (s, d) => {
        for (t <- Seq("customer", "orders", "lineitem"))
          graft.Tables.load(s, d, t).createOrReplaceTempView(t)
        s.sql(q3Sql)
      },
      Some(q3Sql)),

    ("j9_fact_join",
      (s, d) => lineitem(s, d)
        // derive the month bucket on the BUILD side before the join: the
        // tz-aware date_trunc then runs once per order (150k rows at
        // sf0.1), not once per joined lineitem row (600k) — Catalyst does
        // not push a post-join grouping expression below the join itself.
        // merge hint: orders is a FACT-class side (one row per order, the
        // same cardinality class as lineitem), not a dim — broadcasting it
        // is a driver-memory cliff at scale, and even at sf0.1 the serial
        // broadcast build measures slower than the shuffle join (1.7 s vs
        // 1.1 s warm). Genuine dims (j8/f6) stay broadcast.
        .join(orders(s, d).select(col("o_orderkey"), col("o_orderpriority"),
          date_trunc("month", col("o_orderdate")).cast(DateType).as("mes"))
          .hint("merge"),
          col("l_orderkey") === col("o_orderkey"))
        .groupBy(col("o_orderpriority"), col("mes"))
        .agg(dsum4(col("l_extendedprice") * (lit(1) - col("l_discount")))
          .as("revenue"), count(lit(1)).as("n")),
      j9OracleSql),

    // J9 over BUCKETED fact tables — the 100 TB answer to the repeated
    // precios×volumenes join: both facts are bucketed on the join key at
    // ingest (Lake.writeBucketed), so the join itself runs with NO Exchange
    // on the join key — the shuffle was paid once at write time, never per
    // query. The bucketed copies are (re)built once per session (the warm
    // pass in Bench / the first call in Verify) and keyed by the source
    // dir, so different scale factors never alias; within a session every
    // subsequent call reads the exchange-free layout. Same oracle as
    // j9_fact_join — identical values, different physical plan
    // (PlanAuditSpec asserts the join keys never reshuffle).
    ("j9_fact_join_bucketed",
      (s, d) => bucketedJ9Join(s, d)
        .groupBy(col("o_orderpriority"), col("mes"))
        .agg(dsum4(col("l_extendedprice") * (lit(1) - col("l_discount")))
          .as("revenue"), count(lit(1)).as("n")),
      j9OracleSql),

    // A10 over the BUCKETED fact layout — grouping sets reuse the
    // exchange-free join (natlanguage_duckdb_queries.py:242 prescribes
    // ROLLUP in the same SQL surface as the j9 join). The rollup runs
    // ABOVE a plain (priority, month) aggregation, not above the fact
    // rows: Expand replicates its input once per grouping set, and
    // 3 × |fact| partial rows were the whole cost of this row at sf1
    // (r13: 2.3× the oracle). SUM re-aggregates exactly — the inner agg
    // keeps the fixed-point UNSCALED long, subtotals sum those longs,
    // and the final /10⁴ reproduces dsum4 bit-for-bit — so the Expand
    // touches group-count-sized rows at any scale. The only fact-sized
    // work left is the zero-exchange join + one partial aggregation.
    ("a10_rollup_bucketed",
      (s, d) => bucketedJ9Join(s, d)
        // first aggregation keys the NATIVE date (an int under the hood —
        // no per-fact-row allocation; the r13 shape cast date→string
        // before grouping, paying a UTF8String per joined row and the GC
        // residue showed as 0.7-1.3 s run-to-run jitter at sf1)
        .groupBy(col("o_orderpriority"), col("mes"))
        .agg(sum(unscaledCol(
            col("l_extendedprice") * (lit(1) - col("l_discount")), 4))
          .as("rev_u"), count(lit(1)).as("n0"))
        // the month key rolls up as an ISO STRING (cast at GROUP grain,
        // 1:1 with the date groups): subtotal rows carry a NULL month,
        // and a null DATE is representation-ambiguous across engines'
        // dataframe bridges (None vs NaT) — string nulls compare cleanly,
        // exactly like a10_rollup's string grouping keys
        .rollup(col("o_orderpriority"), col("mes").cast(StringType).as("mes"))
        .agg((sum(col("rev_u")) / 10000.0).as("revenue"),
          sum(col("n0")).as("n")),
      Some("""SELECT o_orderpriority, mes,
                     CAST(SUM(CAST(l_extendedprice * (1 - l_discount)
                                   AS DECIMAL(18,4))) AS DOUBLE) AS revenue,
                     count(*) AS n
              FROM (SELECT o_orderpriority,
                           CAST(CAST(date_trunc('month', o_orderdate) AS DATE)
                                AS VARCHAR) AS mes,
                           l_extendedprice, l_discount
                    FROM lineitem JOIN orders ON l_orderkey = o_orderkey) t
              GROUP BY ROLLUP(o_orderpriority, mes)""")),

    // J12 — SKEW-SALTED join: the deterministic 100 TB tool for a join key
    // whose hottest value would otherwise pin one task (AQE's skew split
    // only rescues sort-merge joins after materialization; salting fixes
    // the shuffle itself and works under any join strategy). The fact side
    // is built deliberately skewed — HALF of lineitem lands on key 1 — and
    // the salted formulation spreads that key over S=8 (key, salt) shuffle
    // partitions: the fact row's salt is a hash of a non-key column, the
    // dim side replicates each row S times via explode(sequence). The
    // oracle computes the UNSALTED join — identical results prove salting
    // is pure redistribution. shuffle_hash hint: a broadcast dim would
    // dissolve the skew by never shuffling, which is the right plan at
    // THIS dim size but the wrong demonstration; salting exists for the
    // regime where the dim outgrows the broadcast threshold.
    ("j12_salted_skew_join",
      (s, d) => {
        val S = 8
        val fact = lineitem(s, d).select(
          when(col("l_orderkey") % 2 === 0, 1L)
            .otherwise(pmod(col("l_orderkey"), lit(1000))).as("k"),
          col("l_quantity"), col("l_orderkey"))
        val dim = s.range(0, 1000).select(col("id").as("k"),
          concat(lit("G"), pmod(col("id"), lit(7))).as("label"))
        val salted = fact.withColumn("salt",
          pmod(hash(col("l_orderkey")), lit(S)))
        val dimS = dim.withColumn("salt",
          explode(sequence(lit(0), lit(S - 1))))
        salted.join(dimS.hint("shuffle_hash"), Seq("k", "salt"))
          .groupBy("label")
          .agg(dsum2(col("l_quantity")).as("qty"), count(lit(1)).as("n"))
      },
      Some("""WITH fact AS (
                SELECT CASE WHEN l_orderkey % 2 = 0 THEN 1
                            ELSE l_orderkey % 1000 END AS k,
                       l_quantity
                FROM lineitem),
              dim AS (SELECT g AS k, concat('G', g % 7) AS label
                      FROM generate_series(0, 999) t(g))
              SELECT label,
                     CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE)
                       AS qty,
                     count(*) AS n
              FROM fact JOIN dim USING (k)
              GROUP BY label""")),

    // J13 — SCD2 validity intervals from an attribute-change stream: the
    // dimension-HISTORY view the reference's UP tracking implies (j7's
    // change-log answers "what changed"; this answers "what was true
    // WHEN"). Consecutive repeats dedupe via lag, each surviving change
    // opens an interval closed by the next change's lead; a far-future
    // sentinel (standard SCD2 practice) keeps valid_to non-null, which
    // also sidesteps cross-engine null-timestamp representation (the
    // a10_rollup_bucketed lesson). 2250-01-01, not the customary
    // 9999-12-31: nanosecond datetime bridges (pandas datetime64[ns])
    // overflow past 2262 and silently WRAP (9999-12-31 reads back as
    // 1816-03-29). Both windows
    // share one (user_id) partitioning — one shuffle, and Catalyst
    // reuses the sort for the second window.
    // ref: tracking/up_tracking.py change-dict persistence
    ("j13_scd2_intervals",
      (s, d) => {
        val w = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
        val sentinel = lit("2250-01-01 00:00:00").cast(TimestampType)
        val changes = events(s, d)
          .withColumn("prev", lag(col("event_type"), 1).over(w))
          .filter(col("prev").isNull || col("prev") =!= col("event_type"))
        changes
          .withColumn("valid_to",
            coalesce(lead(col("ts"), 1).over(w), sentinel))
          .select(col("user_id"), col("event_type"),
            col("ts").as("valid_from"), col("valid_to"),
            (col("valid_to") === sentinel).as("is_current"))
      },
      Some("""WITH ordered AS (
                SELECT user_id, event_type, CAST(ts AS TIMESTAMP) AS ts,
                       event_id,
                       lag(event_type) OVER (PARTITION BY user_id
                                             ORDER BY CAST(ts AS TIMESTAMP),
                                                      event_id) AS prev
                FROM events),
              changes AS (
                SELECT * FROM ordered
                WHERE prev IS NULL OR prev <> event_type),
              iv AS (
                SELECT user_id, event_type, ts AS valid_from,
                       coalesce(lead(ts) OVER (PARTITION BY user_id
                                               ORDER BY ts, event_id),
                                TIMESTAMP '2250-01-01') AS valid_to
                FROM changes)
              SELECT user_id, event_type, valid_from, valid_to,
                     valid_to = TIMESTAMP '2250-01-01' AS is_current
              FROM iv"""))
  )
}
