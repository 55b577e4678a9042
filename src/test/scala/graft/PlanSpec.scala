package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec

/** Physical-plan shape assertions: the things that decide whether these
  * operators survive a 100× scale-up — pushdown, pruning, broadcast
  * placement, map-side partial aggregation, codegen coverage.
  */
class PlanSpec extends SparkSpec {

  private def plan(name: String): String = {
    val df = SparkEntry.queries(name)(spark, sfDir)
    df.collect() // materialize so AQE settles on the final physical plan
    df.queryExecution.executedPlan.toString
  }

  test("q12: filter and column pruning reach the parquet scan") {
    val p = plan("q12_pricing_summary")
    assert(p.contains("ReadSchema"), p)
    // only the needed columns are read (no l_orderkey/l_suppkey/etc.)
    assert(!p.contains("l_suppkey"), "scan reads unused columns:\n" + p)
    assert(p.contains("*("), "agg not codegen'd (no *(n) stages):\n" + p)
  }

  test("q13: dimension joins are broadcast, no shuffle of nation/region") {
    val p = plan("q13_region_revenue")
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("SortMergeJoin") || p.indexOf("SortMergeJoin") > 0, p)
  }

  test("q01: latest-wins merge uses partial aggregation (map-side combine)") {
    val p = plan("q01_latest_wins")
    assert(p.contains("partial_max") || p.contains("HashAggregate"),
      "no partial aggregate before the exchange:\n" + p)
    // exactly one exchange: the single shuffle on the primary key
    assert("Exchange".r.findAllIn(p).length <= 2, "unexpected extra shuffles:\n" + p)
  }

  test("q03: compiled row filter is pushed to the scan") {
    val p = plan("q03_rowfilter")
    assert(p.contains("PushedFilters") && p.contains("In(event_type"), p)
  }

  test("t01: scoring pass stays inside whole-stage codegen (no HOF fallback)") {
    val p = plan("t01_langid")
    assert(p.contains("*("), "no codegen stages:\n" + p)
    assert(!p.contains("lambdafunction"), "interpreted lambda in hot path:\n" + p)
  }

  test("s01: query side is broadcast; corpus is never shuffled") {
    val p = plan("s01_ann_brute")
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastHashJoin"), p)
  }

  test("q34: dims broadcast into the fact joins; facts join by shuffle once") {
    val p = plan("q34_nation_trade")
    // nation→supplier, nation→customer, supplier→lineitem, customer→orders
    // are all broadcast; only lineitem⋈orders may shuffle
    assert(p.contains("BroadcastHashJoin"), p)
    assert("SortMergeJoin".r.findAllIn(p).length <= 1,
      "more than the one fact-fact shuffle join:\n" + p)
    assert(p.contains("PushedFilters"), "shipdate range not pushed to scan:\n" + p)
  }

  test("q35: pre-aggregated revenue feeds a bounded top-20") {
    val p = plan("q35_returned_items")
    // partial + final aggregate on o_custkey happen below the customer
    // join (plan prints root-first, so the custkey join line precedes its
    // aggregate child)
    assert("HashAggregate".r.findAllIn(p).length >= 2, p)
    assert(p.contains("TakeOrderedAndProject"),
      "top-20 must be a TakeOrdered (bounded), not a global sort:\n" + p)
  }

  test("q36: grouped argmin is one shuffle with map-side partial min_by") {
    val p = plan("q36_cheapest_supplier")
    assert(p.contains("partial_min") || p.contains("HashAggregate"), p)
    assert(p.contains("BroadcastHashJoin"), "dim lookups must broadcast:\n" + p)
    assert(!p.contains("Window"), "argmin must not fall back to a window sort:\n" + p)
    assert("SortMergeJoin".r.findAllIn(p).length == 0,
      "post-agg dim joins must not shuffle:\n" + p)
  }

  test("t05: normalization chain stays inside whole-stage codegen") {
    val p = plan("t05_normalize")
    assert(p.contains("*("), "no codegen stages:\n" + p)
    assert(!p.contains("BatchEvalPython") && !p.contains("lambdafunction"),
      "normalization must be a pure expression chain:\n" + p)
  }

  test("q37: per-user top-k goes through WindowGroupLimit, not a full sort") {
    val p = plan("q37_follow_suggest")
    assert(p.contains("WindowGroupLimit"),
      "top-5 per user must bound the window input:\n" + p)
  }

  test("s04: explode cells partially aggregate before the exchange") {
    val p = plan("s04_cluster_centroids")
    // the (cluster, dim) cell aggregation must carry a partial (map-side)
    // phase — without it the explode's N×dim rows all cross the shuffle
    assert(p.contains("partial_count") || p.contains("partial_sum"),
      "no map-side partial aggregation under the explode:\n" + p)
    assert(p.contains("Generate"), p) // posexplode node present
  }

  test("q38: each table's accounting is one aggregate scan, no joins") {
    val p = plan("q38_cu_accounting")
    assert(!p.contains("Join"), "accounting must not join anything:\n" + p)
    assert(p.contains("Union"), p)
    // scanned vs kept on events come from ONE pass (conditional sum), so
    // exactly four scans — one per table (count only the final AQE plan;
    // the string repeats them in the == Initial Plan == section)
    val finalPlan = p.split("== Initial Plan ==").head
    assert("Scan parquet".r.findAllIn(finalPlan).length == 4,
      "events must be scanned once (conditional sum), not twice:\n" + p)
  }

  test("s02: band join broadcast, no collision-dedup aggregate, bounded top-k") {
    val p = plan("s02_ann_lsh")
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("SortMergeJoin"), "corpus must not shuffle-join:\n" + p)
    val finalPlan = p.split("== Initial Plan ==").head
    assert(!finalPlan.contains("HashAggregate"),
      "collision dedup must be the stateless band filter, not a groupBy:\n" + p)
    assert(p.contains("WindowGroupLimit"), "rank<=k must bound the window input:\n" + p)
  }

  test("s05: banded queries broadcast — the corpus is never shuffle-joined") {
    val p = plan("s05_range_search")
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("SortMergeJoin"),
      "range search must not shuffle the corpus:\n" + p)
  }

  test("q39: typed sync is one latest-wins shuffle; JSON parses survivors only") {
    val p = plan("q39_typed_sync")
    // struct max is a SortAggregate; what matters is the map-side partial
    // before the single key shuffle
    assert(p.contains("partial_max"), "no map-side partial aggregate:\n" + p)
    assert("Exchange".r.findAllIn(p).length <= 2, "extra shuffles:\n" + p)
    // the typed parse sits ABOVE the aggregate: one from_json per surviving
    // row per key, not per raw input row
    assert(p.indexOf("py_json_normalize") < p.indexOf("SortAggregate"),
      "JSON parse should apply to merge survivors:\n" + p)
    assert(!p.contains("BatchEvalPython"), p)
  }

  test("t10: PII redaction is a zero-shuffle codegen scan pass") {
    val p = plan("t10_pii_redact")
    assert(!p.contains("Exchange"), "redaction must not shuffle:\n" + p)
    assert(p.contains("*("), "no codegen stages:\n" + p)
    assert(!p.contains("lambdafunction"), "interpreted lambda in hot path:\n" + p)
  }

  test("d09: delta bands broadcast — the corpus candidate join never shuffles") {
    val p = plan("d09_embed_delta")
    assert(p.contains("BroadcastHashJoin"), p)
    val candidateSection = p.split("== Initial Plan ==").head
    assert(!candidateSection.contains("SortMergeJoin"),
      "corpus band join must be broadcast-driven:\n" + p)
  }

  test("t11: curation is one scan pass + the single dedup-argmin shuffle") {
    val p = plan("t11_curation")
    assert(p.contains("partial_min"), "no map-side partial for the dedup argmin:\n" + p)
    val finalPlan = p.split("== Initial Plan ==").head
    assert("Exchange".r.findAllIn(finalPlan).length <= 1,
      "curation must shuffle exactly once (dedup argmin):\n" + p)
    assert("Scan parquet".r.findAllIn(finalPlan).length == 1,
      "normalize+gate+tokens must fuse into one scan pass:\n" + p)
  }

  test("q24: SCD2 derivation is one shuffle + one sort (window over key)") {
    val p = plan("q24_scd2_intervals")
    assert(p.contains("Window"), p)
    assert("Exchange".r.findAllIn(p).length <= 2, "extra shuffles in SCD2:\n" + p)
    assert("Sort\\b".r.findAllIn(p).length <= 2, "extra sorts in SCD2:\n" + p)
  }

  test("q27: global max is broadcast to the fact scan, not joined by shuffle") {
    val p = plan("q27_age_metrics")
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastExchange"), p)
    assert(!p.contains("SortMergeJoin"), "global-max join must not shuffle the facts:\n" + p)
  }

  test("s03: probes are broadcast; corpus cells join without corpus shuffle") {
    val p = plan("s03_ann_ivf")
    assert(p.contains("BroadcastHashJoin"), p)
  }

  test("q25: JSON field extraction uses the scanner kernel, not per-row Jackson") {
    val p = plan("q25_mutual_edges")
    assert(p.contains("json_long_field"), p)
    assert(!p.contains("get_json_object"), "hot path still uses Jackson:\n" + p)
  }

  test("backfill predicate prunes hive-style date partitions at the source") {
    // the reference's incremental files are time-windowed objects; on a
    // cluster the same layout is a date-partitioned table, and a backfill
    // range must prune partitions, not filter rows
    val base = java.nio.file.Files.createTempDirectory("graft-part").toFile.getAbsolutePath
    Tables.events(spark, sfDir)
      .withColumn("day_idx", expr("ts_us div 86400000000"))
      .write.partitionBy("day_idx").mode("overwrite").parquet(base)
    val pruned = spark.read.parquet(base)
      .where(col("day_idx") >= 19725 && col("day_idx") <= 19727)
    val plan = pruned.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters: [") &&
      plan.replaceAll("(?s).*PartitionFilters: \\[([^\\]]*)\\].*", "$1").nonEmpty,
      "backfill range did not reach PartitionFilters:\n" + plan)
    // and the pruned read returns exactly the rows the row-filter would
    val expected = Tables.events(spark, sfDir)
      .where(expr("ts_us div 86400000000").between(19725, 19727)).count()
    assert(pruned.count() == expected)
  }

  test("co-bucketed join runs exchange-free on both sides") {
    // pre-partitioned layout: pay the shuffle once at write time, then every
    // equi-join on the bucket key skips BOTH exchanges — the lever that makes
    // repeated 100 TB fact-to-fact joins affordable
    import graft.operators.Bucketing
    val ev = Tables.events(spark, sfDir).select("event_id", "user_id", "value")
    val ev2 = Tables.events(spark, sfDir).select(col("event_id"), col("event_type"))
    // a prior aborted run can leave the warehouse dir without the catalog
    // entry (in-memory catalog dies with the JVM) — clear both
    Seq("graft_b_left", "graft_b_right").foreach { t =>
      spark.sql(s"DROP TABLE IF EXISTS $t")
      val loc = new org.apache.hadoop.fs.Path(
        spark.conf.get("spark.sql.warehouse.dir") + s"/$t")
      val fs = loc.getFileSystem(spark.sparkContext.hadoopConfiguration)
      if (fs.exists(loc)) fs.delete(loc, true)
    }
    Bucketing.writeBucketed(ev, "graft_b_left", Seq("event_id"), 4)
    Bucketing.writeBucketed(ev2, "graft_b_right", Seq("event_id"), 4)
    // at test scale the planner would broadcast instead (also exchange-free,
    // but not the shape under test) — force the SMJ path a 100 TB join takes
    val prevThresh = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val joined = Bucketing.coBucketedJoin(spark, "graft_b_left", "graft_b_right", Seq("event_id"))
      assert(joined.count() == ev.count())
      val p = joined.queryExecution.executedPlan.toString
      assert(p.contains("SortMergeJoin"), "expected SMJ over bucketed scans:\n" + p)
      assert(!p.contains("ShuffleExchange") && !p.contains("Exchange hashpartitioning"),
        "bucketed join still shuffles:\n" + p)
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevThresh)
    spark.sql("DROP TABLE graft_b_left"); spark.sql("DROP TABLE graft_b_right")
    ()
  }

  test("q40: every dim broadcasts; at most one fact-fact shuffle join") {
    val p = plan("q40_market_share")
    assert(p.contains("BroadcastHashJoin"), p)
    assert("SortMergeJoin".r.findAllIn(p).length <= 1,
      "more than the one lineitem⋈orders shuffle join:\n" + p)
    // the ECONOMY filter prunes part before the join
    assert(p.contains("PushedFilters"), "part filter not pushed to scan:\n" + p)
  }

  test("q42: orders pre-aggregate below the customer join") {
    val p = plan("q42_cust_order_dist")
    // partial + final aggregate on o_custkey below the join, plus the
    // final histogram agg
    assert("HashAggregate".r.findAllIn(p).length >= 3, p)
    // the orders scan reads only o_custkey and o_orderstatus
    assert(!p.contains("o_totalprice"), "orders scan reads unused columns:\n" + p)
  }

  test("q43: anti join keeps the filter pushed and the scalar broadcast") {
    val p = plan("q43_idle_customers")
    assert(p.contains("LeftAnti"), "no anti join in the plan:\n" + p)
    assert(p.contains("PushedFilters"), "orderdate cut not pushed to scan:\n" + p)
  }

  test("d10: gram counts reduce with map-side partials before the window") {
    val p = plan("d10_passage_dedup")
    assert(p.contains("token_shingle_hashes"), "gram kernel missing from scan:\n" + p)
    assert(p.contains("partial_count") || "HashAggregate".r.findAllIn(p).length >= 2,
      "no map-side combine on (gram, doc):\n" + p)
    assert(p.contains("Window"), p)
  }

  test("q44: rolling frame is one window (single sort), no self-join") {
    val p = plan("q44_rolling_metrics")
    assert(p.contains("Window"), p)
    assert(!p.contains("Join"), "rolling metrics must not self-join:\n" + p)
  }

  test("d11: quantizer evaluates once (checkpointed); pairwise join is cell-keyed, never cartesian") {
    val p = plan("d11_semantic_dedup")
    // r19: the prune scores pairs with the norm-hoisted form — one
    // dot_product_ff per pair, norms precomputed into the checkpoint
    assert(p.contains("dot_product_ff"), "per-pair dot kernel missing:\n" + p)
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      "pairwise pass must stay cell-local (equi-join on cell):\n" + p)
    // the 32-cosine argmax must NOT appear in the query plan at all: it ran
    // exactly once into the localCheckpoint all three consumers read.
    // (Before the fix, PushDownLeftSemiAntiJoin hoisted the probe-side
    // repartition above the semi join and the quantizer re-evaluated 3–5×
    // across scans/filters — the r9 d11 regression.)
    for (assign <- Seq("array_max", "argmax_cos_stride"))
      assert(!p.contains(assign),
        s"quantizer $assign re-evaluated in the query plan — the checkpoint isn't feeding all consumers:\n" + p)
    assert(p.contains("ExistingRDD") || p.contains("LocalTableScan"),
      "expected the checkpointed assignment scan:\n" + p)
  }

  test("s03/s10/s12/d11/d13: cell assignment never runs under a Filter") {
    // the round-19 s03 3x regression: Spark pushed the join's inferred
    // isnotnull(cell) below the projection, so a Filter evaluated the
    // whole k-way argmax a second time per row. Similarity.assignCell's
    // non-nullable cell lets that filter fold away; pin it on every
    // flat-assignment consumer.
    import org.apache.spark.sql.catalyst.expressions.{ArrayMax, Expression}
    import org.apache.spark.sql.execution.FilterExec
    import org.apache.spark.sql.execution.adaptive.QueryStageExec
    import graft.expressions.ArgmaxCosStride
    def nodes(p: SparkPlan): Seq[SparkPlan] = p match {
      case a: AdaptiveSparkPlanExec => nodes(a.executedPlan)
      case q: QueryStageExec => nodes(q.plan)
      case other => other +: (other.children ++ other.subqueries).flatMap(nodes)
    }
    def assigns(e: Expression): Boolean = e.find {
      case _: ArgmaxCosStride | _: ArrayMax => true
      case _ => false
    }.isDefined
    for (name <- Seq("s03_ann_ivf", "s10_ivfpq", "s12_ann_ivf_trained",
        "d11_semantic_dedup", "d13_semantic_dedup_trained")) {
      val df = SparkEntry.queries(name)(spark, sfDir)
      df.collect()
      val plan = nodes(df.queryExecution.executedPlan)
      plan.foreach {
        case f: FilterExec =>
          assert(!assigns(f.condition), s"$name: cell assignment under a Filter: ${f.condition}")
        case _ =>
      }
      // d11's absence is pinned by its own test above; d13 shares the
      // checkpointed prune, so the assignment must not appear at all
      if (name == "d13_semantic_dedup_trained")
        assert(!plan.exists(_.expressions.exists(assigns)),
          s"$name: quantizer re-evaluated in the query plan:\n${df.queryExecution.executedPlan}")
    }
  }

  test("q54: order totals aggregate below the joins, top-20 is TakeOrdered") {
    val p = plan("q54_large_orders")
    assert(p.contains("TakeOrderedAndProject"),
      "top-20 must be bounded, not a global sort:\n" + p)
    assert("HashAggregate".r.findAllIn(p).length >= 2,
      "no partial+final aggregate on orderkey below the joins:\n" + p)
  }

  test("s08: PQ encode is a pure scan — no shuffle exchange anywhere") {
    val p = plan("s08_pq_encode")
    assert(!p.contains("Exchange hashpartitioning") && !p.contains("SortMergeJoin"),
      "PQ encode must not shuffle:\n" + p)
  }

  test("t15: chunk planning is a zero-shuffle scan") {
    val p = plan("t15_chunk_plan")
    assert(!p.contains("Exchange"), "chunk planning must not shuffle:\n" + p)
    assert(p.contains("Generate"), "chunk explode missing:\n" + p)
  }

  test("q52: unrolled pagerank is linear in iterations and reuses the edge exchange") {
    // r18: the fixed-5-iteration loop composes into ONE plan (no
    // per-iteration checkpoint in local mode) — growth must stay LINEAR
    // (2 joins per round: the rank×edge join and the dangling left join)
    // and the edge set's exchange must be shared across rounds instead of
    // re-shuffled per round (the whole point of the unroll)
    val df = SparkEntry.queries("q52_pagerank")(spark, sfDir)
    df.collect()
    // the adaptive plan's toString renders Final AND Initial plans — count
    // joins in the final section only
    val p = df.queryExecution.executedPlan.toString.split("== Initial Plan ==")(0)
    val joins = "SortMergeJoin|BroadcastHashJoin|ShuffledHashJoin".r.findAllIn(p).length
    assert(joins <= 2 * 5 + 1, s"iteration growth not linear ($joins joins):\n" + p)
    assert(p.contains("ReusedExchange"),
      "edge/node exchanges must be reused across iterations:\n" + p)
  }

  test("q53: per-part aggregate is scoped by the brand semi-join") {
    val p = plan("q53_small_order_revenue")
    // the (sum, count) groupBy must consume the brand-filtered lineitem —
    // a LeftSemi broadcast join sits below the aggregate, so the per-part
    // stats shuffle only the brand's partkeys, not all of lineitem
    assert(p.contains("LeftSemi"),
      "brand semi-join missing below the per-part aggregate:\n" + p)
    // the brand-restricted per-part stats broadcast back (no fact shuffle)
    assert(!p.contains("SortMergeJoin"),
      "per-part stats should broadcast, not shuffle-join:\n" + p)
  }

  test("q56: revenue aggregate evaluates once (checkpoint pins the reuse)") {
    val p = plan("q56_top_supplier")
    // rev is localCheckpoint'd before feeding both the scalar max and the
    // equality filter: the final plan reads the materialized RDD and must
    // not re-scan lineitem for either branch
    assert(!p.contains("lineitem"),
      "lineitem scan leaked past the checkpoint (double evaluation):\n" + p)
    assert(p.contains("ExistingRDD") || p.contains("Scan ExistingRDD"),
      "checkpointed rev not read as materialized RDD:\n" + p)
  }

  test("t17: bloom probe joins broadcast filter words, corpus never shuffle-joins") {
    val p = plan("t17_bloom_contamination")
    assert(p.contains("BroadcastHashJoin"), "filter words must broadcast:\n" + p)
    assert(!p.contains("SortMergeJoin"),
      "corpus side must never shuffle for the word join:\n" + p)
  }

  test("q60: the per-order chain runs on one exchange (agg + both windows reuse it)") {
    val p = plan("q60_sole_shipper")
    // expected shuffles: the explicit repartition(l_orderkey) and the final
    // per-supplier count — the groupBy(orderkey, suppkey) and BOTH window
    // frames must ride the first one (hashpartitioning(l_orderkey) satisfies
    // their clustering), adding none of their own
    val finalPlan = p.split("== Initial Plan ==")(0) // AQE echoes the pre-AQE plan below
    val shuffles = "Exchange hashpartitioning".r.findAllIn(finalPlan).length
    assert(shuffles <= 2, s"per-order chain re-shuffles ($shuffles exchanges):\n" + p)
    assert(p.contains("TakeOrdered"), "top-20 must be TakeOrdered, not a global sort:\n" + p)
  }

  test("q61: catalog pairs dedup before broadcast joins; no fact shuffle join") {
    val p = plan("q61_part_variety")
    assert(p.contains("BroadcastHashJoin"), "part/supplier dims must broadcast:\n" + p)
    assert(!p.contains("SortMergeJoin"),
      "the deduped pair set must join dims by broadcast, never shuffle:\n" + p)
    // the distinct (partkey, suppkey) reduction must partially aggregate
    // map-side before its exchange — the dedup-first rule
    assert(p.contains("partial"), "no map-side partial distinct:\n" + p)
  }

  test("q62: category + ship-window filters push to the lineitem scan") {
    val p = plan("q62_shipmode_priority")
    assert(p.contains("PushedFilters") && p.contains("In(l_returnflag"),
      "returnflag filter not pushed:\n" + p)
    assert(p.contains("GreaterThanOrEqual(l_shipdate") || p.contains("l_shipdate)"),
      "ship-window not pushed:\n" + p)
    // one conditional-sum agg pass with map-side partials
    assert(p.contains("partial_sum") || p.contains("HashAggregate"), p)
  }

  test("q63: sketch partial-aggregates map-side (mergeable ObjectHashAggregate)") {
    val p = plan("q63_kmv_distinct")
    // the KMV TypedImperativeAggregate must plan through ObjectHashAggregate
    // with a partial stage before the exchange — the mergeable-sketch
    // contract that makes it O(k) per group at 100 TB
    assert(p.contains("ObjectHashAggregate"), "sketch not object-hash-aggregated:\n" + p)
    assert(p.contains("partial_kmv_distinct"), "no map-side partial sketch:\n" + p)
  }

  test("q65: quantile sketch partial-aggregates map-side like q63") {
    val p = plan("q65_sketch_quantiles")
    assert(p.contains("ObjectHashAggregate"), "sketch not object-hash-aggregated:\n" + p)
    assert(p.contains("partial_quantile_sketch"), "no map-side partial sketch:\n" + p)
  }

  test("q67: family filter prunes lineitem below the first aggregate; dims broadcast") {
    val p = plan("q67_excess_shippers")
    // the bolt-part semi join must sit under the per-(part, supplier)
    // groupBy (the q53 scoping rule): broadcast joins present, and no
    // SortMergeJoin anywhere (supplier/nation broadcast post-agg)
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("SortMergeJoin"), "unexpected shuffle join:\n" + p)
    assert(p.contains("partial_sum"), "no map-side partial aggregation:\n" + p)
  }

  test("q26/q70: no window sort partitioned by the low-cardinality class alone") {
    // the VERDICT r7 scale-killer: `PARTITION BY o_orderpriority ORDER BY
    // price` is a one-task external sort per class (5 classes ⇒ 5 tasks
    // sorting |orders|/5 each at 100 TB). Binning.rankInClass must instead
    // (a) range-partition the data (the RangePartitioning exchange is the
    // signature of the two-pass rank), and (b) sort only within windows
    // whose partition spec includes the range-chunk id `_pid` — every
    // data-bearing window group is bounded by a range chunk, independent of
    // the class cardinality. Windows WITHOUT _pid may only order by _pid
    // itself (the P×|class| offset statistics, never row data).
    // t12/t14 carry the same contract through Sampling: the per-source
    // running sum (packSequences) and quota rank (mixtureSample) also run
    // on the two-pass range-partitioned shape
    Seq("q26_price_percentiles", "q70_decile_bins",
      "t12_sequence_pack", "t14_mixture_sample").foreach { name =>
      val p = plan(name)
      assert(p.contains("rangepartitioning") || p.contains("RangePartitioning"),
        s"$name: two-pass rank must range-partition:\n" + p)
      val windowSpecs = "Window \\[[^\\n]*".r.findAllIn(p).toList
      assert(windowSpecs.nonEmpty, s"$name: expected window nodes:\n" + p)
      windowSpecs.foreach { w =>
        // `_cnt` marks the offset/total windows over the P×|class| counts
        // aggregate (statistics, not row data); everything else must carry
        // the range-chunk id
        assert(w.contains("_pid") || w.contains("_cnt"),
          s"$name: window without the range-chunk id in its spec (a per-class sort):\n$w")
      }
    }
  }

  test("s08/s09/s10/d14/d15: generated code compiles — no silent 64 KB fallback") {
    // the unrolled 128-dot expression tree used to exceed Janino's 64 KB
    // method limit inside the Generate consume, and Spark FELL BACK to
    // interpreted execution without failing anything. With fallback off,
    // a compile failure throws instead of degrading.
    val prev = spark.conf.get("spark.sql.codegen.fallback")
    spark.conf.set("spark.sql.codegen.fallback", "false")
    try {
      // r18 adds the banding family: hyperplaneSig is now a fused kernel
      // (HyperplaneSigFL) — these queries interpreted their signature scans
      // under the old unrolled tree
      Seq("s08_pq_encode", "s09_adc_search", "s10_ivfpq",
          "d14_semantic_dedup_scaled", "d15_semantic_dedup_lloyd",
          "d07_embed_neardup_lsh", "s02_ann_lsh", "s05_range_search",
          "d09_embed_delta").foreach { n =>
        withClue(s"$n: ") { SparkEntry.queries(n)(spark, sfDir).collect() }
      }
    } finally spark.conf.set("spark.sql.codegen.fallback", prev)
  }

  test("d02: signature computed before the exchange, bands join on hash") {
    val df = SparkEntry.queries("d02_dedup_minhash")(spark, sfDir)
    val p = df.queryExecution.executedPlan.toString
    // minhash kernel appears below the repartition exchange, not after joins
    val sigPos = p.indexOf("minhash_signature")
    val joinPos = p.indexOf("Join")
    assert(sigPos >= 0, p)
    assert(joinPos >= 0 && sigPos > joinPos,
      "signature should be computed in the leaf projections (printed below joins)")
  }

  test("banded family: arrays ride only id exchanges (decade-2 broadcast guard)") {
    // The sf10 failure class: a join side sized from the static scan
    // estimate but inflated ~130x by explode + a 64-long signature array
    // got BROADCAST (8.1 GiB at sf10). The fixed shape moves (band, id)
    // keys through the band join and fetches signatures per survivor off
    // the one id-keyed exchange. Pin the property, not the plan string,
    // over the WHOLE scan→inflate→join family (not just the two members
    // that hard-failed at sf10 — any refactor of a sibling could silently
    // reacquire a static-estimate broadcast):
    //  - any SHUFFLE carrying an ARRAY column must be hash-partitioned on
    //    the member's row-identity keys — never a band/chunk/cell exchange
    //    (the wide explode would ride it nBands× over);
    //  - any BROADCAST carrying an ARRAY column must be either sized from
    //    a MATERIALIZED stage (its subtree crosses a query-stage boundary
    //    — AQE working from truthful runtime sizes), or INFLATION-FREE
    //    (no Generate below it before a materialized stage): a broadcast
    //    planned straight over scan+explode is sized by the static file
    //    estimate — exactly the bug — while an explicit hint on a
    //    non-exploded bounded side (s02/s05's query vectors, contract-
    //    bounded ≪ corpus) cannot misestimate by the inflation factor.
    import org.apache.spark.sql.execution.GenerateExec
    import org.apache.spark.sql.execution.adaptive.QueryStageExec
    import org.apache.spark.sql.execution.exchange.{BroadcastExchangeExec, Exchange, ReusedExchangeExec, ShuffleExchangeExec}
    import org.apache.spark.sql.catalyst.plans.physical.HashPartitioning
    import org.apache.spark.sql.types.ArrayType
    def exchanges(p: SparkPlan): Seq[Exchange] = p match {
      case a: AdaptiveSparkPlanExec => exchanges(a.executedPlan)
      case q: QueryStageExec => exchanges(q.plan)
      case _: ReusedExchangeExec => Nil
      case e: Exchange => e +: e.children.flatMap(exchanges)
      case other => other.children.flatMap(exchanges) ++ other.subqueries.flatMap(exchanges)
    }
    // true iff every path from p to a leaf crosses a materialized stage
    // (QueryStageExec / ReusedExchangeExec) — i.e. p is runtime-sized
    def runtimeSized(p: SparkPlan): Boolean = p match {
      case _: QueryStageExec | _: ReusedExchangeExec => true
      case leaf if leaf.children.isEmpty => false
      case other => other.children.forall(runtimeSized)
    }
    // true iff an explode sits below p with no materialized stage between:
    // p's static size estimate misses the inflation factor entirely
    def staticInflated(p: SparkPlan): Boolean = p match {
      case _: QueryStageExec | _: ReusedExchangeExec => false
      case _: GenerateExec => true
      case other => other.children.exists(staticInflated)
    }
    // member → its row-identity key names (pair fetches join on a/b;
    // delta paths orient through x/y; ANN paths key on q_id/neighbor_id).
    // Band/chunk/cell/bucket keys are NEVER listed — that is the guard.
    val family: Seq[(String, Set[String], Boolean)] = Seq(
      // (name, identity keys, designed shape REQUIRES an array exchange)
      ("d02_dedup_minhash", Set("id", "a", "b"), true),
      ("d04_ngram_jaccard", Set("id", "a", "b"), true),
      ("d03_dedup_simhash", Set("id", "a", "b"), false),
      ("d08_dedup_incremental", Set("id", "a", "b", "x", "y"), false),
      ("d09_embed_delta", Set("id", "a", "b", "x", "y"), false),
      ("m07_frame_neardup", Set("id", "a", "b"), false),
      ("s02_ann_lsh", Set("id", "q_id", "neighbor_id"), false),
      ("s05_range_search", Set("id", "q_id", "neighbor_id"), false))
    for ((name, idKeys, requireWide) <- family) {
      val df = SparkEntry.queries(name)(spark, sfDir)
      df.collect()
      val wide = exchanges(df.queryExecution.executedPlan)
        .filter(_.output.exists(_.dataType.isInstanceOf[ArrayType]))
      if (requireWide)
        assert(wide.nonEmpty, s"$name: expected the designed id exchange to carry the array column")
      wide.foreach {
        case s: ShuffleExchangeExec =>
          val keys = s.outputPartitioning match {
            case h: HashPartitioning => h.expressions.flatMap(_.references).map(_.name)
            case other => fail(s"$name: array-carrying exchange is not hash partitioned: $other")
          }
          assert(keys.forall(idKeys),
            s"$name: array column rides an exchange keyed on $keys — the band-explode side is back in a shuffle")
        case b: BroadcastExchangeExec =>
          if (!runtimeSized(b.child)) {
            // A STATIC-estimate broadcast (ADVICE r11, option B): allowed
            // only when (1) no explode sits below it unmaterialized — a
            // Generate makes the static size estimate miss the inflation
            // factor entirely, the decade-2 hard-fail class — AND (2) the
            // bytes ACTUALLY built (the executed broadcast's dataSize
            // metric) are small. (2) catches what inflation-freeness
            // alone cannot: expression-width inflation (tokenShingleHashes
            // arrays, ~15× the text scan estimate) and selective-filter
            // misestimates both surface in the built size. The bound is a
            // spec-SF assertion, not a scale proof — at real scale the
            // static file estimate crosses the broadcast threshold long
            // before the side matters, and the genuinely dangerous class
            // (estimate small, reality huge) is exactly what (1) pins.
            assert(!staticInflated(b.child),
              s"$name: array column rides a STATIC-estimate broadcast of an exploded side — the decade-2 bug: $b")
            val bytes = b.metrics.get("dataSize").map(_.value).getOrElse(-1L)
            assert(bytes >= 0L, s"$name: broadcast dataSize metric missing — cannot bound the built side")
            assert(bytes < 64L * 1024 * 1024,
              s"$name: static-estimate broadcast built $bytes bytes at spec SF — not a bounded side")
          }
        case other => fail(s"$name: unexpected exchange kind ${other.getClass}")
      }
    }
  }

  test("BroadcastAudit readings agree with this spec's own guard semantics") {
    // the decade-2 probe (`graft.Probe broadcast`, wired at sf10 in the bench
    // chain) reads executed BroadcastExchange dataSize through
    // plans/BroadcastAudit — pin its reader against the same plans the
    // static-broadcast guard above classifies, so the two can never drift:
    // readings exist, executed bytes are real (metric present, not the
    // unexecuted 0/-1), and every static array-carrying reading satisfies
    // the exact bound the guard asserts
    import graft.plans.BroadcastAudit
    val withBroadcast = Seq("s02_ann_lsh", "d08_dedup_incremental", "q13_region_revenue")
    val readings = withBroadcast.map { name =>
      val df = SparkEntry.queries(name)(spark, sfDir)
      BroadcastAudit.execute(df)
      val rs = BroadcastAudit.readings(df)
      assert(rs.nonEmpty, s"$name: plan has broadcasts; reader saw none")
      assert(rs.forall(_.builtBytes > 0L),
        s"$name: executed dataSize must be positive — a 0/-1 reading means the " +
          s"reader walked an UNEXECUTED QueryExecution: $rs")
      rs.filter(r => r.carriesArray && !r.runtimeSized).foreach { r =>
        assert(!r.inflatedBelow, s"$name: static array broadcast over explode: $r")
        assert(r.builtBytes < 64L * 1024 * 1024, s"$name: static built size at spec SF: $r")
      }
      name -> rs
    }.toMap
    // q13's dim broadcasts carry no arrays — the probe must record them
    // without ever alarming on the array rule (scalar dims are not the
    // banded danger class); read off the loop's readings, not a re-run
    assert(readings("q13_region_revenue").forall(!_.carriesArray))
  }
}
