package graft

import org.apache.spark.sql.functions._

/** Smoke + plan-quality gate over every registered query at sf0.001.
  * Value-level correctness is the DuckDB oracle (tools/check.py / driver);
  * this suite catches runtime regressions and plan-quality regressions
  * (collect-free, pushdown present) in `sbt test`.
  */
class QueriesSpec extends SparkSpec {

  test("entry flagship returns rows") {
    assert(SparkEntry.entry(spark).count() > 0)
  }

  test("every oracle key has a registered query") {
    assert(SparkEntry.oracleSql.keySet.subsetOf(SparkEntry.queries.keySet))
  }

  for ((name, fn) <- SparkEntry.queries.toSeq.sortBy(_._1)) {
    test(s"query $name executes at sf0.001") {
      val df = fn(spark, sfDir)
      val n = df.count()
      // a9 (anti-join diff) may legitimately be small but not negative;
      // everything else should produce rows on the fixture data
      assert(n >= 0)
      if (name != "llm_minhash_dedup") assert(n > 0, s"$name returned 0 rows")
    }
  }

  test("s11_pruned_scan pushes filters to the parquet scan") {
    val df = SparkEntry.queries("s11_pruned_scan")(spark, sfDir)
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("PushedFilters") &&
      (plan.contains("GreaterThan") || plan.contains("IsNotNull")),
      s"no pushdown in plan:\n$plan")
  }

  test("j8_dim_join broadcasts the small side") {
    val df = SparkEntry.queries("j8_dim_join")(spark, sfDir)
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"), s"no broadcast join:\n$plan")
  }

  test("w16 funnel steps are monotone and ordered") {
    val r = SparkEntry.queries("w16_funnel")(spark, sfDir).collect().head
    val (n1, n2, n3) = (r.getLong(0), r.getLong(1), r.getLong(2))
    assert(n1 >= n2 && n2 >= n3,
      s"funnel not monotone: $n1 -> $n2 -> $n3")
    assert(n1 > 0, "no signups in fixture")
    val conv = r.getDouble(3)
    assert(conv >= 0.0 && conv <= 1.0, s"conversion out of range: $conv")
  }

  test("w17 retention is 100% at day 0 and bounded by the cohort size") {
    val rows = SparkEntry.queries("w17_retention")(spark, sfDir).collect()
    val day0 = rows.filter(_.getAs[Int]("day_offset") == 0)
    assert(day0.nonEmpty && day0.forall(_.getAs[Double]("pct") == 1.0),
      "day-0 retention must be exactly 1.0 per cohort")
    assert(rows.forall(r => r.getAs[Double]("pct") <= 1.0 + 1e-12),
      "retention cannot exceed the cohort's day-0 size")
  }

  test("ppl buckets partition the scored docs exactly") {
    val b = SparkEntry.queries("llm_ppl_buckets")(spark, sfDir).collect()
    val scored = SparkEntry.queries("llm_lm_score")(spark, sfDir).count()
    assert(b.map(_.getAs[Long]("n_docs")).sum == scored,
      "bucket doc counts must partition the scored docs")
    assert(b.map(_.getAs[String]("bucket")).toSet == Set("head", "middle", "tail"),
      s"missing buckets: ${b.map(_.getAs[String]("bucket")).toSet}")
  }

  test("interpolated upsample re-derives exactly from its hourly anchors") {
    val rows = SparkEntry.queries("w19_interpolate")(spark, sfDir).collect()
      .map(r => (r.getAs[String]("event_type"),
        r.getAs[java.sql.Timestamp]("datetime_utc").getTime,
        r.getAs[Double]("v15")))
    assert(rows.nonEmpty)
    for ((_, rs) <- rows.groupBy(_._1)) {
      val anchors = rs.filter(_._2 % 3600000L == 0).sortBy(_._2)
      // consecutive-hour anchor pairs: each q=1..3 sample must equal the
      // exact linear blend (same IEEE ops, so equality is bitwise)
      anchors.sliding(2).foreach {
        case Array((_, t0, v0), (_, t1, v1)) if t1 - t0 == 3600000L =>
          for (q <- 1 to 3) {
            val exp = v0 + (v1 - v0) * (q / 4.0)
            val got = rs.find(_._2 == t0 + q * 900000L).map(_._3)
            assert(got.contains(exp), s"t0=$t0 q=$q: $got != $exp")
          }
        case _ => ()
      }
    }
  }

  test("hopping windows double-count every event; range frame includes " +
      "its own row") {
    val total = Tables.events(spark, sfDir).count()
    val h = SparkEntry.queries("w23_hopping")(spark, sfDir).collect()
    assert(h.map(_.getAs[Long]("n")).sum == 2 * total,
      "slide = size/2 must place each event in exactly two windows")
    val r = SparkEntry.queries("w22_range_window")(spark, sfDir).collect()
    assert(r.length == total)
    assert(r.forall(x => !x.isNullAt(2)),
      "the frame always contains the current row")
  }

  test("stored-signature incremental dedup equals the on-the-fly path") {
    def pairs(q: String) = SparkEntry.queries(q)(spark, sfDir)
      .collect().map(_.toSeq).sortBy(_.toString).toSeq
    assert(pairs("llm_incremental_dedup")
      == pairs("llm_incremental_dedup_stored"))
  }

  test("winsorize clips ~1% per tail; histogram partitions the rows") {
    val total = Tables.lineitem(spark, sfDir).count()
    val w = SparkEntry.queries("a11_winsorize")(spark, sfDir).collect().head
    assert(w.getAs[Double]("p01") < w.getAs[Double]("p99"))
    for (c <- Seq("n_clipped_low", "n_clipped_high"))
      assert(w.getAs[Long](c) <= total / 50,
        s"$c clipped more than 2%: ${w.getAs[Long](c)} of $total")
    val h = SparkEntry.queries("a12_histogram")(spark, sfDir).collect()
    assert(h.map(_.getAs[Long]("n")).sum == total,
      "histogram bins must partition the rows")
  }

  test("transition probabilities sum to 1 per source state; ranks are a " +
      "permutation") {
    val t = SparkEntry.queries("w20_transitions")(spark, sfDir).collect()
    for ((_, rs) <- t.groupBy(_.getAs[String]("from_type")))
      assert(math.abs(rs.map(_.getAs[Double]("p")).sum - 1.0) < 1e-9)
    val r = SparkEntry.queries("w21_rank_family")(spark, sfDir).collect()
    val rnks = r.map(_.getAs[Int]("rnk")).sorted
    assert(rnks.head == 1 && rnks.distinct.length == rnks.length,
      "total-order tiebreak must make rank a permutation")
    assert(r.map(_.getAs[Int]("quartile")).toSet == Set(1, 2, 3, 4))
  }

  test("quality battery covers all six rules; invariant rules hold") {
    val m = SparkEntry.queries("f14_quality_asserts")(spark, sfDir).collect()
      .map(r => r.getAs[String]("rule") -> r.getAs[Long]("violations")).toMap
    assert(m.keySet == Set("null_orderkey", "quantity_range",
      "discount_range", "returnflag_domain", "dup_line_identity",
      "orphan_orderkey"))
    // generator invariants: keys non-null, values in TPC-H domains, no FK
    // orphans (dup_line_identity is a REAL fixture artifact — left free)
    for (rule <- Seq("null_orderkey", "quantity_range", "discount_range",
        "returnflag_domain", "orphan_orderkey"))
      assert(m(rule) == 0L, s"$rule: ${m(rule)} violations")
  }

  test("f14 nulls the dup count loudly on out-of-domain line numbers; " +
      "a18 surfaces out-of-domain flags as their own group") {
    // doctored mini-lake: the bitmask dup rule is exact only for
    // l_linenumber in [0, 63] — an out-of-domain group must NULL the
    // published dup_line_identity (a bare sum would skip the group and
    // silently undercount), and an unknown returnflag must appear in
    // a18's own output as a NULL-flag group, not merge into 'R'
    val dir = tmpDir()
    val li = Tables.lineitem(spark, sfDir).limit(8)
    li.withColumn("l_linenumber", lit(99))
      .unionByName(li)
      .write.mode("overwrite").parquet(s"$dir/lineitem.parquet")
    Tables.orders(spark, sfDir).limit(50)
      .write.mode("overwrite").parquet(s"$dir/orders.parquet")
    val m = SparkEntry.queries("f14_quality_asserts")(spark, dir).collect()
      .map(r => r.getAs[String]("rule") ->
        Option(r.getAs[java.lang.Long]("violations"))).toMap
    assert(m("dup_line_identity").isEmpty,
      s"out-of-domain line number must NULL the dup count, " +
        s"got ${m("dup_line_identity")}")
    assert(m("quantity_range").isDefined, "other rules must still publish")

    val li2 = Tables.lineitem(spark, sfDir).limit(8)
    li2.withColumn("l_returnflag", lit("X"))
      .unionByName(li2)
      .write.mode("overwrite").parquet(s"$dir/lineitem.parquet")
    val a = SparkEntry.queries("a18_approx_distinct")(spark, dir).collect()
    val nullGroup = a.filter(_.isNullAt(0))
    assert(nullGroup.length == 1,
      s"unknown flag must surface as its own NULL group: ${a.mkString(";")}")
    assert(nullGroup.head.getAs[Long]("exact_parts") > 0)
    assert(!a.filter(!_.isNullAt(0))
      .exists(r => !Set("A", "N", "R")(r.getString(0))))
  }

  test("both sessionize arms agree on the fixture") {
    // the lag/running-sum arm and the native session_window arm differ
    // only at an exact-30-min gap (strict > vs end-exclusive >=); the
    // fixture has none, so the session multisets must be identical
    def sessions(q: String) =
      SparkEntry.queries(q)(spark, sfDir)
        .select("user_id", "n_events", "first_event")
        .collect().map(_.toSeq).sortBy(_.toString).toSeq
    assert(sessions("w12_sessionize") == sessions("w12_session_window_native"))
  }

  test("bpe merges are distinct with non-increasing pair frequency") {
    val m = SparkEntry.queries("llm_bpe_merges")(spark, sfDir)
      .orderBy("merge_rank").collect()
    assert(m.length == 5, s"expected 5 merges, got ${m.length}")
    val freqs = m.map(_.getAs[Long]("pair_freq"))
    assert(freqs.zip(freqs.tail).forall { case (a, b) => a >= b },
      s"merge frequency must be non-increasing: ${freqs.mkString(",")}")
    val pairs = m.map(r => (r.getAs[String]("lhs"), r.getAs[String]("rhs")))
    assert(pairs.distinct.length == pairs.length, "duplicate merge pair")
  }

  test("dsir weights upweight the target-domain language") {
    // the discriminative property of importance resampling: documents
    // drawn from the target distribution (lang=en trained the target
    // model) must average a higher log weight than the rest. NOTE: this is
    // a statistical property of the seed-42 fixture (holds at every
    // shipped sf), not an invariant of the operator — a regenerated
    // fixture could legitimately flip it; the hash gate is the
    // correctness claim, this spec guards the discriminative DIRECTION.
    val rows = SparkEntry.queries("llm_dsir_weights")(spark, sfDir).collect()
    def mean(p: org.apache.spark.sql.Row => Boolean) = {
      val xs = rows.filter(p).map(_.getAs[Double]("log_w"))
      assert(xs.nonEmpty, "empty language group — fixture regenerated?")
      xs.sum / xs.length
    }
    assert(mean(_.getAs[String]("lang") == "en")
      > mean(_.getAs[String]("lang") != "en"),
      "target-domain docs not upweighted")
  }

  test("stream funnel emits strictly ordered step times per user") {
    val rows = SparkEntry.queries("w18_stream_funnel_e2e")(spark, sfDir)
      .collect()
    assert(rows.nonEmpty, "funnel stream emitted no users")
    for (r <- rows) {
      val (t1, t2, t3) = (r.getTimestamp(1), r.getTimestamp(2), r.getTimestamp(3))
      if (t2 != null) assert(t1 != null && t2.after(t1),
        s"click not strictly after signup: $r")
      if (t3 != null) assert(t2 != null && t3.after(t2),
        s"purchase not strictly after click: $r")
    }
  }

  test("semdedup pairs are within-cluster, oriented, and above threshold") {
    val rows = SparkEntry.queries("llm_semdedup")(spark, sfDir).collect()
    assert(rows.nonEmpty, "fixture yields no semantic near-dup pairs")
    assert(rows.forall(r => r.getAs[Long]("d1") < r.getAs[Long]("d2")),
      "pair orientation must be d1 < d2")
    assert(rows.forall(_.getAs[Double]("cos_r") >= 0.2),
      "pair below the tau threshold")
  }

  test("kmeans profile partitions every vector with non-negative inertia") {
    val p = SparkEntry.queries("llm_kmeans_profile")(spark, sfDir).collect()
    val total = Tables.embeddings(spark, sfDir).count()
    assert(p.map(_.getAs[Long]("n_vecs")).sum == total,
      "cluster sizes must partition the vectors")
    assert(p.forall(_.getAs[Double]("mean_d2_r") >= 0.0),
      "mean squared distance cannot be negative")
  }

  test("twap lies within each user's value range; weights positive") {
    val rows = SparkEntry.queries("w31_twap")(spark, sfDir).collect()
    val bounds = Tables.events(spark, sfDir)
      .groupBy("user_id")
      .agg(org.apache.spark.sql.functions.min("value").as("mn"),
        org.apache.spark.sql.functions.max("value").as("mx"))
      .collect().map(r => r.getLong(0) -> (r.getDouble(1), r.getDouble(2)))
      .toMap
    assert(rows.nonEmpty)
    for (r <- rows) {
      val (u, tw) = (r.getLong(0), r.getAs[Double]("twap"))
      val (mn, mx) = bounds(u)
      // dec2 snap can sit half a cent outside the raw bounds
      assert(tw >= mn - 0.005 && tw <= mx + 0.005,
        s"user $u twap $tw outside [$mn, $mx]")
      assert(r.getAs[Long]("span_us") > 0L)
    }
  }

  test("null-safe join pairs the NULL bucket and never loses a left key") {
    val rows = SparkEntry.queries("j14_nullsafe_join")(spark, sfDir)
      .collect()
    val nullRow = rows.find(_.isNullAt(0))
    assert(nullRow.isDefined, "NULL bucket dropped — <=> degenerated to =")
    assert(nullRow.get.getAs[Long]("n_matches") > 0L)
  }

  test("except-all keeps multiplicities the distinct form collapses") {
    val ea = SparkEntry.queries("u4_except_all")(spark, sfDir).count()
    val ia = SparkEntry.queries("u5_intersect_all")(spark, sfDir).count()
    val a = Tables.orders(spark, sfDir)
      .filter(org.apache.spark.sql.functions.col("o_orderkey") % 3 === 0)
      .count()
    // bag identity: |A ⧵all B| + |A ∩all B| = |A|
    assert(ea + ia == a, s"$ea + $ia != $a")
  }

  test("u4/u5 one-scan counts identity equals Spark's built-in bag faces") {
    // the r14 rewrite computes EXCEPT ALL / INTERSECT ALL via the counts
    // identity over ONE scan (both sides are filters of the same table);
    // this pins it to the engine's own .exceptAll/.intersectAll lowering,
    // multiplicities included (compare as (k, multiplicity) maps)
    import org.apache.spark.sql.DataFrame
    def bag(df: DataFrame): Map[Any, Long] =
      df.groupBy("k").count().collect()
        .map(r => (r.get(0), r.getLong(1))).toMap
    val l = Tables.orders(spark, sfDir).filter(col("o_orderkey") % 3 === 0)
      .select(col("o_custkey").as("k"))
    val r = Tables.orders(spark, sfDir).filter(col("o_orderkey") % 5 === 0)
      .select(col("o_custkey").as("k"))
    assert(bag(SparkEntry.queries("u4_except_all")(spark, sfDir))
      == bag(l.exceptAll(r)), "u4 diverges from .exceptAll")
    assert(bag(SparkEntry.queries("u5_intersect_all")(spark, sfDir))
      == bag(l.intersectAll(r)), "u5 diverges from .intersectAll")
  }

  test("u3 semi-join fusion equals Spark's built-in .intersect") {
    // the r15 fusion replaces the built-in Intersect lowering (distinct +
    // two-sided exchange) with broadcast-semi-join + distinct; pin the
    // fused form to the engine's own .intersect, as sets of keys
    val fused = SparkEntry.queries("u3_intersect")(spark, sfDir)
      .collect().map(_.get(0)).toSet
    val builtin = Tables.orders(spark, sfDir).select(col("o_custkey").as("k"))
      .intersect(Tables.customer(spark, sfDir)
        .filter(col("c_acctbal") > 0).select(col("c_custkey").as("k")))
      .collect().map(_.get(0)).toSet
    assert(fused == builtin, "u3 fusion diverges from .intersect")
  }

  test("count-min estimates never underestimate (the CMS guarantee)") {
    // one-sided error is CMS's defining property: collisions only ADD.
    // The hash gate already pins exact values; this asserts the
    // structural invariant so a broken hash/bucket mapping (which could
    // still produce a self-consistent oracle match) reads as what it is.
    val rows = SparkEntry.queries("a20_countmin_est")(spark, sfDir).collect()
    assert(rows.length == 10)
    for (r <- rows) {
      val (exact, est) = (r.getAs[Long]("exact_n"), r.getAs[Long]("est_n"))
      assert(est >= exact, s"CMS underestimated ${r.getAs[String]("tok")}: " +
        s"est=$est < exact=$exact")
    }
  }
}
