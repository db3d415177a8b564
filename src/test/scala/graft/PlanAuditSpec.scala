package graft

import org.apache.spark.sql.functions._

/** Plan-quality gates: the properties that make these operators survive a
  * 100 TB scale-up, asserted on the actual physical plans in `sbt test`
  * so a regression (lost pushdown, surprise cartesian, lost map-side
  * combine) fails the build.
  */
class PlanAuditSpec extends SparkSpec {

  private def plan(name: String): String =
    SparkEntry.queries(name)(spark, sfDir).queryExecution.executedPlan.toString

  test("aggregations keep map-side partial aggregation") {
    for (q <- Seq("j9_fact_join", "a2_downsample"))
      assert(plan(q).contains("partial_"), s"$q lost partial aggregation")
  }

  test("a1_rollup pays exactly one exchange, before the aggregation") {
    // (suppkey, shipdate) is nearly a key of the fact rows, so the
    // two-phase default shuffles ~|rows| of encoded partial buffers; the
    // deliberate shape is ONE raw-row exchange on the entity key whose
    // partitioning satisfies the grouping (the j3 profile-hash
    // precedent) — Spark still plans an adjacent partial+final pair, but
    // they pipeline in the same stage with nothing between them. A
    // second Exchange appearing means the aggregation re-shuffled.
    val p = plan("a1_rollup")
    val exchanges = p.linesIterator.count(_.contains("Exchange "))
    assert(exchanges == 1, s"a1_rollup pays $exchanges exchanges:\n$p")
    assert(p.contains("HashAggregate"), s"a1_rollup lost hash agg:\n$p")
  }

  test("semi/dim joins broadcast the small side") {
    for (q <- Seq("f6_semi_join", "j8_dim_join"))
      assert(plan(q).contains("BroadcastHashJoin"), s"$q not broadcast")
  }

  test("candidate-generation joins are never cartesian") {
    for (q <- Seq("llm_minhash_dedup", "llm_ann_lsh", "llm_embed_neardup",
        "llm_ngram_jaccard", "llm_simhash_neardup", "j11_range_join",
        "j10_asof_join", "llm_decontaminate", "llm_span_dedup",
        "llm_incremental_dedup", "llm_exact_substr")) {
      val p = plan(q)
      assert(!p.contains("CartesianProduct"), s"$q has a cartesian product")
      assert(!p.contains("BroadcastNestedLoopJoin"), s"$q has a nested-loop join")
    }
  }

  test("llm_topk_ngrams takes per-partition heaps, never a global sort") {
    val p = plan("llm_topk_ngrams")
    assert(p.contains("TakeOrderedAndProject"),
      s"global top-k lost the heap-merge operator:\n$p")
    assert(p.contains("partial_count"),
      s"distinct-text counts lost map-side partials:\n$p")
    assert(p.contains("partial_sum"),
      s"weighted gram counts lost map-side partials:\n$p")
  }

  test("llm_span_scrub shuffles ids and hashes, never a cartesian") {
    val p = plan("llm_span_scrub")
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"),
      s"span scrub joins degenerated:\n$p")
    assert(p.contains("SortMergeJoin") || p.contains("ShuffledHashJoin") ||
      p.contains("BroadcastHashJoin"), s"keeper join missing:\n$p")
  }

  test("llm_winnow fingerprints stay narrow until the fp exchange") {
    // the winnow_prints projection must sit under the FIRST exchange —
    // per-doc hashing is a map, only 8-byte fingerprints shuffle
    val p = plan("llm_winnow")
    val firstExchange = p.linesIterator.indexWhere(_.contains("Exchange "))
    val winnowLine = p.linesIterator.indexWhere(l =>
      l.toLowerCase.contains("winnowprints") ||
        l.toLowerCase.contains("winnow_prints"))
    assert(winnowLine >= 0, s"winnow_prints not in the plan:\n$p")
    assert(firstExchange >= 0 && winnowLine > firstExchange,
      s"fingerprinting not below the first exchange:\n$p")
  }

  test("f14 rule battery: one exchange, join-free, no object agg") {
    // r14 shape: the orders keys ride the fact aggregation as marker
    // rows, so the whole battery is ONE keyed exchange (the order-grain
    // union aggregation) + the final single-partition global agg — any
    // join operator or a 3rd exchange means the FK rule regressed to the
    // r13 probe-join (or worse, the r12 2-fact-exchange shape)
    val p = plan("f14_quality_asserts")
    val exchanges = p.linesIterator.count(_.contains("Exchange "))
    assert(exchanges == 2, s"f14 pays $exchanges exchanges:\n$p")
    assert(!p.contains("Join"), s"f14 FK rule regressed to a join:\n$p")
    assert(p.contains("Union"), s"f14 lost the marker-row union:\n$p")
    // the dup rule must stay a fixed-width bitmask aggregate: collect_set
    // would push the whole battery into ObjectHashAggregate
    assert(p.contains("bit_or"), s"f14 lost the linenumber bitmask:\n$p")
    assert(!p.contains("ObjectHashAggregate"),
      s"f14 left the vectorized hash map:\n$p")
  }

  test("a18/a19 approx gates stay single-aggregation shapes") {
    val p18 = plan("a18_approx_distinct")
    assert(p18.contains("partial_"), s"a18 lost partial aggregation:\n$p18")
    // ONE aggregation (r14): both arms are mergeable sketches — the exact
    // arm a paged bitmap (bitmap_distinct), the approx arm HLL — so the
    // single exchange carries ≤4 flag groups of fixed-size state; a 2nd
    // exchange or a pk-grain dedup agg means the row regressed to the
    // r13 key-stream-shuffle shape (8.9× the oracle at sf1)
    val ex18 = p18.linesIterator.count(_.contains("Exchange "))
    assert(ex18 == 1, s"a18 pays $ex18 exchanges:\n$p18")
    assert(p18.contains("bitmap_distinct"),
      s"a18 lost the bitmap exact arm:\n$p18")
    assert(p18.contains("ObjectHashAggregate"),
      s"a18's typed bitmap aggregate left ObjectHashAggregate:\n$p18")
    // a19's PUBLISHED plan is a 1-row literal projection by design (r13):
    // the GK sketch, the exact 2-job kernel and the probe-rank gate all
    // run during construction (their value semantics are gated by
    // WinsorizeSpec's exact-over-a-projection test + the DuckDB hash
    // row); the returned frame must stay degenerate — a data-sized
    // subtree reappearing here means the gate moved back into the plan
    val p19 = plan("a19_approx_quantile_gate")
    assert(p19.contains("Range (0, 1") && p19.contains("exact_p50"),
      s"a19 plan is no longer the driver-assembled literal row:\n$p19")
  }

  test("o4 top-k aggregate never window-sorts the fact rows") {
    // the whole point of the topk_structs sibling: no WindowExec (which
    // would sort every joined row inside its segment's single partition)
    val p = plan("o4_topk_per_group_agg")
    assert(!p.contains("Window"), s"topk sibling regressed to a window:\n$p")
    assert(p.contains("ObjectHashAggregate"),
      s"topk_structs not aggregating:\n$p")
  }

  test("salted skew join keeps the shuffled strategy (broadcast would " +
      "dissolve the demonstration)") {
    val p = plan("j12_salted_skew_join")
    assert(p.contains("ShuffledHashJoin"), "salted join lost shuffle_hash")
    assert(!p.contains("BroadcastHashJoin"), "salted join dim got broadcast")
  }

  test("incremental dedup broadcasts the batch bands; corpus side never " +
      "sort-merges") {
    // asymmetric smallSide mode: the daily batch's band keys are the
    // broadcast build side and the corpus-sized band stream is probed in
    // place — a SortMergeJoin anywhere means the corpus bands got shuffled,
    // exactly the exchange this mode exists to delete at 100 TB
    val p = plan("llm_incremental_dedup")
    assert(p.contains("BroadcastHashJoin"), "batch bands not broadcast")
    assert(!p.contains("SortMergeJoin"), "corpus band stream got shuffled:\n" + p)
  }

  test("decontamination broadcasts the benchmark vocabulary") {
    // the corpus side must never shuffle into the vocabulary join — the
    // eval-suite side stays ~MBs while the corpus grows
    assert(plan("llm_decontaminate").contains("BroadcastHashJoin"),
      "benchmark vocabulary join is not broadcast")
    // the bloom variant must keep its codegen prefilter BELOW the exact
    // join — the semi-join reduction is the whole point
    val pb = plan("llm_decontaminate_bloom")
    assert(pb.contains("might_contain"), "bloom prefilter missing:\n" + pb)
    assert(pb.contains("BroadcastHashJoin"),
      "bloom variant's exact join is not broadcast")
  }

  test("decontamination computes the profile inline per disjoint arm " +
      "(r17: no full-profile checkpoint)") {
    // the two consumers read DISJOINT doc subsets (%50 split), so the
    // r16 checkpoint materialized a full corpus profile to save zero
    // work; both arms must now derive straight from the scan with the
    // split filter pushed below the tokenize
    val p = plan("llm_decontaminate")
    assert(!p.contains("Scan ExistingRDD"),
      s"decontaminate regained a profile checkpoint:\n$p")
    assert(p.toLowerCase.replace("_", "").contains("shinglecodes"),
      s"inline shingle profile missing from the plan:\n$p")
  }

  test("dedup apply-best gates quality eval to cluster members (id grain)") {
    // low-multiplicity regime (sf0.001 is id-grain — AdaptiveGrainSpec):
    // token_runs must evaluate ABOVE a broadcast left-semi member gate,
    // never on the full corpus scan. Plan text prints consumers first,
    // so the quality expression must appear before the semi join.
    val p = plan("llm_dedup_apply_best")
    assert(p.contains("LeftSemi"),
      s"member gate lost the semi join:\n$p")
    val qualAt = p.toLowerCase.replace("_", "").indexOf("tokenruns")
    val semiAt = p.indexOf("LeftSemi")
    assert(qualAt >= 0, s"quality eval missing:\n$p")
    assert(qualAt < semiAt,
      s"token_runs evaluates below the member gate (full-corpus eval):\n$p")
  }

  test("filter queries push predicates into the parquet scan") {
    for (q <- Seq("s11_pruned_scan", "f1_date_filter", "f11_nonzero_prune")) {
      val p = plan(q)
      assert(p.contains("PushedFilters: [") && !p.contains("PushedFilters: []"),
        s"$q lost pushdown")
    }
  }

  test("transform finalizes carry no global-sort shuffle") {
    import graft.transform.{EsiosTransform, OmieTransform}
    import org.apache.spark.sql.types._
    // raw-shaped micro-fixtures; the assertion is on the PLAN, not the data
    val esiosRaw = spark.createDataFrame(
      java.util.List.of(
        org.apache.spark.sql.Row(java.sql.Timestamp.valueOf("2024-03-01 00:00:00"),
          12.34, 600L, "Hora", "España")),
      StructType(Seq(
        StructField("datetime_utc", TimestampType), StructField("value", DoubleType),
        StructField("indicador_id", LongType), StructField("granularidad", StringType),
        StructField("geo_name", StringType))))
    val omieRaw = spark.createDataFrame(
      java.util.List.of(
        org.apache.spark.sql.Row(java.sql.Date.valueOf("2024-03-01"), "U1",
          "1.234,5", "C", "V", 1)),
      StructType(Seq(
        StructField("Fecha", DateType), StructField("Unidad", StringType),
        StructField("Energía Compra/Venta", StringType),
        StructField("Ofertada (O)/Casada (C)", StringType),
        StructField("Tipo Oferta", StringType), StructField("Hora", IntegerType))))
    for ((name, df) <- Seq(
        "esios" -> EsiosTransform.transform(esiosRaw),
        "omie" -> OmieTransform.transform(omieRaw, 1, quarterHourly = false))) {
      val p = df.queryExecution.executedPlan.toString
      // a global Sort materializes as a range-partitioning exchange; the
      // transforms leave row order to the lake write, which sorts once
      assert(!p.contains("rangepartitioning"),
        s"$name transform plan buys a global sort:\n$p")
    }
  }

  test("j9_fact_join_bucketed never reshuffles the join keys") {
    // force the bucket-join path (at the spec's tiny SF Catalyst would
    // broadcast, which also avoids the exchange but proves nothing)
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      // first call (re)builds the bucketed copies; the plan under audit is
      // the steady-state read. a10_rollup_bucketed shares the bucketed
      // join — same zero-exchange contract, plus the rollup's Expand must
      // sit above the join, not force a fact-side reshuffle.
      for (q <- Seq("j9_fact_join_bucketed", "a10_rollup_bucketed")) {
        SparkEntry.queries(q)(spark, sfDir)
          .write.format("noop").mode("overwrite").save()
        val p = plan(q)
        assert(!p.contains("Exchange hashpartitioning(l_orderkey") &&
          !p.contains("Exchange hashpartitioning(o_orderkey"),
          s"bucketed $q reshuffles a join key:\n$p")
        assert(p.contains("partial_"), s"bucketed $q lost partial aggregation")
      }
      assert(plan("a10_rollup_bucketed").contains("Expand"),
        "a10_rollup_bucketed lost its grouping-sets Expand")
    } finally spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
  }

  test("w16 funnel pushes the step predicate to the scan and keeps " +
      "map-side partial mins") {
    // the funnel stages are materialized once (r16) so the consumer plan
    // reads checkpointed RDDs — the pushdown/partial-min properties live
    // in the STAGE plans, exposed pre-checkpoint for this pin
    val (s1, _, s3) = graft.queries.Windows
      .funnelSteps(spark, sfDir, materialize = false)
    val p1 = s1.queryExecution.executedPlan.toString
    assert(p1.contains("EqualTo(event_type,signup)"),
      s"w16 step filter not pushed to parquet:\n$p1")
    assert(p1.contains("partial_min"), s"w16 lost map-side combine:\n$p1")
    // the nested stage keeps both properties through the join chain
    val p3 = s3.queryExecution.executedPlan.toString
    assert(p3.contains("EqualTo(event_type,purchase)"),
      s"w16 s3 filter not pushed:\n$p3")
    assert(p3.contains("partial_min"), s"w16 s3 lost map-side combine:\n$p3")
    // and the consumer itself stays checkpoint-fed: exactly one scan per
    // step ⇒ no parquet re-scan in the w16 consumer plan
    assert(!plan("w16_funnel").contains("Scan parquet"),
      "w16 consumer re-scans parquet instead of the materialized stages")
  }

  test("w17 retention reuses the user_id partitioning for join + dedup") {
    // at most TWO user_id exchanges may exist: the cohort branch's
    // compressed partial-min buffers and the activity branch's raw
    // (user_id, day) pairs. The distinct and the per-user join must
    // REUSE those partitionings — a third user_id exchange means one of
    // them re-shuffled the pair stream (the scale regression this gates).
    val p = plan("w17_retention")
    val userEx = p.linesIterator.count(
      _.contains("Exchange hashpartitioning(user_id"))
    assert(userEx <= 2, s"w17 shuffles on user_id ${userEx}x:\n$p")
    assert(p.contains("partial_min"), s"w17 cohort lost map-side combine:\n$p")
  }

  test("ppl buckets and kmeans profile aggregate in a single exchange") {
    // both are narrow maps (bigram_lm_stats / centroid-argmin fold) over
    // the scan feeding one bounded aggregation — a second exchange means
    // the scoring or assignment started shuffling corpus-sized rows
    for (q <- Seq("llm_ppl_buckets", "llm_kmeans_profile")) {
      val p = plan(q)
      val ex = p.linesIterator.count(_.contains("Exchange hashpartitioning"))
      assert(ex == 1, s"$q pays $ex hash exchanges:\n$p")
      assert(!p.contains("CartesianProduct"), s"$q has a cartesian:\n$p")
    }
  }

  test("semdedup joins only within clusters — never cartesian, never " +
      "a vector broadcast") {
    val p = plan("llm_semdedup")
    assert(!p.contains("CartesianProduct"), s"semdedup went cartesian:\n$p")
    assert(!p.contains("BroadcastNestedLoopJoin"),
      s"semdedup has a nested-loop join:\n$p")
  }

  test("range-frame window and histogram pay exactly one exchange") {
    for (q <- Seq("w22_range_window", "a12_histogram")) {
      val p = plan(q)
      val ex = p.linesIterator.count(_.contains("Exchange hashpartitioning"))
      assert(ex == 1, s"$q pays $ex hash exchanges:\n$p")
    }
    assert(plan("a12_histogram").contains("partial_count"),
      "a12 lost map-side combine")
  }

  test("winsorize never sorts, joins, or value-buffers the fact table") {
    // the fused operator runs its passes eagerly at build time, so audit
    // EVERY plan it executes (listener capture, the QuantilesSpec
    // pattern): a Sort on the values would mean quantile-by-sort; a
    // Percentile aggregate would mean the linear-memory buffer is back;
    // a Join would mean the old crossJoin-the-cutoffs shape returned.
    import org.apache.spark.sql.execution.QueryExecution
    val plans = scala.collection.mutable.ArrayBuffer[String]()
    val l = new org.apache.spark.sql.util.QueryExecutionListener {
      def onSuccess(f: String, qe: QueryExecution, d: Long): Unit =
        plans.synchronized { plans += qe.executedPlan.toString }
      def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    spark.listenerManager.register(l)
    try {
      SparkEntry.queries("a11_winsorize")(spark, sfDir)
        .write.format("noop").mode("overwrite").save()
      val deadline = System.currentTimeMillis + 15000
      while (plans.synchronized(plans.size) < 2 &&
        System.currentTimeMillis < deadline) Thread.sleep(100)
      val got = plans.synchronized(plans.toList)
      assert(got.size >= 2, s"expected 2 winsorize passes, saw ${got.size}")
      for (p <- got) {
        assert(!p.linesIterator.exists(ln =>
          ln.contains("Sort ") && (ln.contains("l_extendedprice") ||
            ln.contains("__v"))),
          s"a11 sorts the fact values:\n$p")
        assert(!p.toLowerCase.contains("percentile"),
          s"a11 buffers values in a percentile aggregate again:\n$p")
        assert(!p.contains("Join"), s"a11 re-grew a cutoff join:\n$p")
      }
    } finally spark.listenerManager.unregister(l)
  }

  test("w29_ema never buffers a key's history in an aggregation buffer") {
    // the batch EMA is a per-key ORDERED fold: the scale-safe plan is a
    // secondary-sorted shuffle feeding a streaming MapGroups (O(1) state
    // per key, external sort spills). A collect_list/ObjectHashAggregate
    // reappearing means the linear-per-key-memory buffer is back — the
    // r11 "last unbounded buffer" finding.
    val p = plan("w29_ema")
    assert(!p.contains("collect_list") && !p.contains("CollectList"),
      s"w29 re-grew the per-key history buffer:\n$p")
    assert(!p.contains("ObjectHashAggregate"),
      s"w29 aggregates through an object buffer:\n$p")
    assert(p.contains("MapGroups") && p.contains("Sort "),
      s"w29 lost the sorted-groups fold shape:\n$p")
  }

  test("quantile bracket re-scans push their range conjunct to parquet") {
    // each refinement pass filters on a plain value range exactly so the
    // parquet reader can prune row groups by min/max stats — losing the
    // pushdown turns every pass into a full-table scan at 100 TB
    val df = Tables.lineitem(spark, sfDir)
      .select(col("l_extendedprice").cast("double").as("__v"))
      .filter(col("__v").isNotNull)
      .filter(col("__v") >= 1000.0 && col("__v") <= 2000.0)
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("PushedFilters:") &&
      p.contains("GreaterThanOrEqual(l_extendedprice,1000.0)"),
      s"bracket range filter not pushed to the scan:\n$p")
  }

  test("bucketed fact tables join without an exchange") {
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      import graft.lake.Lake
      val li = Tables.lineitem(spark, sfDir)
        .select("l_orderkey", "l_quantity")
      val or = Tables.orders(spark, sfDir)
        .select("o_orderkey", "o_totalprice")
      Lake.writeBucketed(li, "b_lineitem", Seq("l_orderkey"), 4)
      Lake.writeBucketed(or, "b_orders", Seq("o_orderkey"), 4)
      val j = spark.table("b_lineitem")
        .join(spark.table("b_orders"),
          col("l_orderkey") === col("o_orderkey"))
      j.write.format("noop").mode("overwrite").save()
      val p = j.queryExecution.executedPlan.toString
      assert(!p.contains("Exchange hashpartitioning"),
        s"bucketed join still shuffles:\n$p")
      assert(j.count() == li.count()) // every lineitem matches its order
    } finally {
      spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
      spark.sql("DROP TABLE IF EXISTS b_lineitem")
      spark.sql("DROP TABLE IF EXISTS b_orders")
    }
  }

  test("adaptive-grain arms keep their defining physical shapes") {
    // The r15 router's entire value is PLAN-shaped: the id-grain arm has
    // NO content-hash machinery (no exchange keyed on the md5 text-hash
    // `th`, candidates broadcast into the verify joins), while the
    // content arm MUST keep its th exchange — that indirection is what
    // makes the sf10 multiplicity-100 regime linear instead of quadratic.
    // AdaptiveGrainSpec pins the two arms to identical VALUES; this pins
    // the physical difference that justifies having two arms at all, so
    // a regression fails a test instead of a bench eyeball (r15 verdict
    // ask #5).
    // broadcast disabled for the whole test: at sf0.001 the planner
    // broadcasts the tiny th-keyed expansion joins, which would make the
    // content arm's th EXCHANGE invisible — at the bomb regime's scale
    // those joins shuffle, and the shuffled form is what the pin is about.
    // The id arm's candidate broadcast survives regardless: it is an
    // explicit broadcast() hint, not a threshold decision.
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val id = queries.LlmOps.minhashPairsIdGrain(spark, sfDir)
        .queryExecution.executedPlan.toString
      assert(!id.contains("th#"),
        s"id-grain arm grew content-hash machinery:\n$id")
      assert(id.contains("BroadcastHashJoin"),
        s"id-grain candidate set no longer broadcasts into the verify joins:\n$id")
      val ct = queries.LlmOps.minhashPairsContentGrain(spark, sfDir)
        .queryExecution.executedPlan.toString
      assert(ct.contains("hashpartitioning(th#"),
        s"content arm LOST its content-hash exchange (multiplicity bomb " +
          s"protection gone):\n$ct")
      // simhash twins: id arm bands doc ids directly (no signature-grain
      // exchange); content arm groups to distinct signatures first
      val sid = queries.LlmOps.simhashNearDup(spark, sfDir, idGrain = true)
        .queryExecution.executedPlan.toString
      assert(!sid.contains("hashpartitioning(sig#"),
        s"simhash id arm grew a signature-grain exchange:\n$sid")
      val sct = queries.LlmOps.simhashNearDup(spark, sfDir, idGrain = false)
        .queryExecution.executedPlan.toString
      assert(sct.contains("hashpartitioning(sig#"),
        s"simhash content arm lost its distinct-signature exchange:\n$sct")
    } finally spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
  }

  test("fixed-quantizer ANN: assignment and encode are narrow native maps") {
    // r16: the fixed arms' quantizer sides are bounded by construction
    // (vec_id < nCentroids/ksub single-digit constants), so coarse-list
    // assignment and PQ encode run as ONE native codegen'd projection
    // (PqCodes) over the checkpointed corpus frame. The displaced shapes
    // were full-corpus costs: a crossJoin ×nCentroids + Window rank-1
    // (Exchange + Sort over every vector) for assignment, and an explode
    // ×m + broadcast join + hash-agg min(struct) Exchange for the codes.
    // Pin both removals so a regression fails a test, not a bench eyeball.
    for (q <- Seq("llm_ann_ivf_fixed", "llm_ann_pq", "llm_ann_ivfpq")) {
      val p = plan(q)
      assert(p.toLowerCase.contains("pqcodes"),
        s"$q lost the native quantizer map:\n$p")
      // the encode argmin must not reappear as an aggregation
      assert(!p.contains("partial_min"),
        s"$q regressed to the hash-agg argmin encode:\n$p")
    }
    // the recall rows share ONE normalized checkpointed frame between the
    // exact and approximate arms — a parquet scan reappearing means each
    // arm went back to re-scanning the corpus for itself
    for (q <- Seq("llm_ann_recall", "llm_ivfpq_recall")) {
      val p = plan(q)
      assert(!p.contains("Scan parquet"),
        s"$q arms stopped sharing the checkpointed corpus frame:\n$p")
    }
  }

  test("semdedup learned-quantizer assignment is the native argmin map") {
    // r16 moved the learned arm's assignment to PqCodes too; the declared
    // row's plan hides it behind the reps mat(), so pin the pre-mat frame:
    // one pqcodes projection, no interpreted aggregate(sequence,...) fold,
    // no crossJoin×nLists + Window rank-1 (the displaced shapes)
    val p = llm.Similarity.semDedupAssignFrame(
      Tables.embeddings(spark, sfDir), nLists = 8)
      .queryExecution.executedPlan.toString
    assert(p.toLowerCase.contains("pqcodes"),
      s"semdedup assignment lost the native quantizer map:\n$p")
    assert(!p.contains("aggregate(sequence"),
      s"semdedup assignment regressed to the interpreted fold:\n$p")
    assert(!p.contains("CartesianProduct") && !p.contains("Window"),
      s"semdedup assignment regressed to crossJoin+Window rank-1:\n$p")
  }
}
