package graft

import org.apache.spark.sql.functions._

/** Every SURVEY §2 query runs at sf0.001 and satisfies basic invariants.
  * (Exact value checks are the driver's DuckDB oracle job; these specs pin
  * structure and a few hand-computable invariants.)
  */
class QueriesSpec extends SparkSpec {

  test("all queries execute and return stable schemas") {
    SparkEntry.queries.toSeq.sortBy(_._1).foreach { case (name, fn) =>
      val t0 = System.nanoTime()
      val df = fn(spark, sfDir)
      val n = df.count()
      info(f"$name%-22s ${(System.nanoTime() - t0) / 1e9}%7.2fs $n%6d rows")
      withClue(s"query $name: ") {
        assert(df.schema.fieldNames.distinct.length == df.schema.fieldNames.length,
          "duplicate column names break the oracle compare")
      }
    }
  }

  test("every oracle key has a matching query") {
    val qs = SparkEntry.queries.keySet
    val missing = SparkEntry.oracleSql.keySet.diff(qs)
    assert(missing.isEmpty, s"oracles without queries: $missing")
  }

  test("entry returns rows") {
    assert(SparkEntry.entry(spark).count() > 0)
  }

  test("q01 latest_wins: one row per user, ts is user max") {
    val out = SparkEntry.queries("q01_latest_wins")(spark, sfDir)
    val ev = Tables.events(spark, sfDir)
    assert(out.count() == ev.select("user_id").distinct().count())
    val maxTs = ev.groupBy("user_id").agg(max("ts_us").as("m"))
    val joined = out.join(maxTs, "user_id").where(col("ts_us") =!= col("m"))
    assert(joined.count() == 0)
  }

  test("q03 rowfilter equals hand-built predicate") {
    val out = SparkEntry.queries("q03_rowfilter")(spark, sfDir).count()
    val expect = Tables.events(spark, sfDir)
      .where(col("event_type").isin("purchase", "click") ||
        (col("value") >= 150.0 && !col("event_type").isin("error", "signup")))
      .count()
    assert(out == expect && out > 0)
  }

  test("q08 profiles view covers every customer exactly once") {
    val out = SparkEntry.queries("q08_profiles_view")(spark, sfDir)
    assert(out.count() == Tables.customer(spark, sfDir).count())
  }

  test("q12 pricing summary groups are complete") {
    val out = SparkEntry.queries("q12_pricing_summary")(spark, sfDir).collect()
    assert(out.nonEmpty)
    val totalOrders = out.map(_.getAs[Long]("count_order")).sum
    val expected = Tables.lineitem(spark, sfDir)
      .where(to_date(col("l_shipdate")) <= lit("1998-09-02")).count()
    assert(totalOrders == expected)
  }

  test("q14 top customers: at most 3 per customer, correctly ordered") {
    val out = SparkEntry.queries("q14_top_customers")(spark, sfDir)
    val bad = out.groupBy("o_custkey").count().where(col("count") > 3)
    assert(bad.count() == 0)
  }

  test("q15 sessions: n_sessions <= n_events, both positive") {
    val out = SparkEntry.queries("q15_event_sessions")(spark, sfDir)
    assert(out.where(col("n_sessions") > col("n_events") || col("n_sessions") < 1).count() == 0)
  }

  test("q40 market share: shares lie in [0,1], one row per order year") {
    val out = SparkEntry.queries("q40_market_share")(spark, sfDir).collect()
    assert(out.nonEmpty)
    assert(out.map(_.getAs[Long]("o_year")).distinct.length == out.length)
    assert(out.forall { r =>
      val s = r.getAs[Double]("mkt_share"); s >= 0.0 && s <= 1.0
    })
  }

  test("q41 product profit: item count equals the bolt-part lineitems") {
    val out = SparkEntry.queries("q41_product_profit")(spark, sfDir).collect()
    val expected = Tables.lineitem(spark, sfDir)
      .join(Tables.part(spark, sfDir).where(col("p_name").like("%bolt%")),
        col("l_partkey") === col("p_partkey")).count()
    assert(out.map(_.getAs[Long]("n_items")).sum == expected && expected > 0)
  }

  test("q42 order-count histogram partitions the customer table") {
    val out = SparkEntry.queries("q42_cust_order_dist")(spark, sfDir).collect()
    assert(out.map(_.getAs[Long]("custdist")).sum ==
      Tables.customer(spark, sfDir).count())
  }

  test("q43 lapsed customers: non-empty, disjoint from recent orderers") {
    val out = SparkEntry.queries("q43_idle_customers")(spark, sfDir).collect()
    assert(out.map(_.getAs[Long]("n_cust")).sum > 0)
  }

  test("d10 passage dedup: one row per doc, dup passages bounded by total") {
    val out = SparkEntry.queries("d10_passage_dedup")(spark, sfDir)
    assert(out.count() == Tables.documents(spark, sfDir).count())
    assert(out.where(col("n_dup_passages") > col("n_passages") ||
      col("dup_frac") < 0.0 || col("dup_frac") > 1.0).count() == 0)
  }

  test("q44 rolling metrics: one row per event, frame always includes self") {
    val out = SparkEntry.queries("q44_rolling_metrics")(spark, sfDir)
    assert(out.count() == Tables.events(spark, sfDir).count())
    assert(out.where(col("n_24h") < 1).count() == 0)
  }

  test("q45 funnel: user counts partition the user set, stages monotone") {
    val out = SparkEntry.queries("q45_funnel")(spark, sfDir).collect()
    val users = Tables.events(spark, sfDir).select("user_id").distinct().count()
    assert(out.map(_.getAs[Long]("n_users")).sum == users)
    assert(out.forall(r => r.getAs[Long]("stage") >= 0 && r.getAs[Long]("stage") <= 3))
  }

  test("d11 semantic dedup: one row per vector; removed vectors have a lower-id cell peer") {
    val out = SparkEntry.queries("d11_semantic_dedup")(spark, sfDir)
    val emb = Tables.embeddings(spark, sfDir)
    assert(out.count() == emb.count())
    // within every cell the lowest-id member is always kept
    val firstPerCell = out.groupBy("cell").agg(min("vec_id").as("first_id"))
    val dropped = out.where(col("keep") === 0)
      .join(firstPerCell, Seq("cell"))
      .where(col("vec_id") === col("first_id"))
    assert(dropped.count() == 0, "a cell's lowest-id vector was removed")
  }

  test("d14 scaled dedup: two-level assignment matches a driver-side mirror of the rule") {
    val out = SparkEntry.queries("d14_semantic_dedup_scaled")(spark, sfDir)
      .select(col("vec_id"), col("cell")).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val emb = Tables.embeddings(spark, sfDir)
      .select(col("vec_id").cast("long"), col("embedding")).collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).toArray).sortBy(_._1)
    assert(out.size == emb.length)
    val k = math.max(16L, emb.length / 125L).toInt
    val c = math.ceil(math.sqrt(k.toDouble)).toInt
    val gs = (k + c - 1) / c
    val cent = emb.take(k).map(_._2)
    // left-to-right double accumulation — the cosineFF kernel's contract
    def cos(a: Array[Float], b: Array[Float]): Double = {
      var dot = 0.0; var na = 0.0; var nb = 0.0; var i = 0
      while (i < a.length) {
        dot += a(i).toDouble * b(i).toDouble
        na += a(i).toDouble * a(i).toDouble
        nb += b(i).toDouble * b(i).toDouble
        i += 1
      }
      dot / (math.sqrt(na) * math.sqrt(nb))
    }
    val groups = cent.zipWithIndex.groupBy { case (_, ci) => ci / gs }
    val leaders = (0 until (k + gs - 1) / gs).map(g => g -> cent(g * gs))
    emb.foreach { case (id, v) =>
      val gid = leaders.map { case (g, lv) => (cos(v, lv), g) }.max._2
      val cell = groups(gid).map { case (cv, ci) => (cos(v, cv), ci) }.max._2
      assert(out(id) == cell.toLong, s"vec $id: operator cell ${out(id)}, mirror cell $cell")
    }
  }

  test("s11 Lloyd k-means: every (cluster, dim) row matches a driver-side mirror of the rounds") {
    val out = SparkEntry.queries("s11_kmeans_train")(spark, sfDir)
      .select(col("cluster_id"), col("dim"), col("c6"), col("n_members")).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).sorted.toSeq
    // 1e-6-scaled integers (Spark SQL round = HALF_UP on doubles), in id order
    val pts = Tables.embeddings(spark, sfDir)
      .select(col("vec_id").cast("long"), col("embedding")).collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).toArray).sortBy(_._1)
      .map { case (_, v) => v.map(x =>
        BigDecimal(x.toDouble * 1e6).setScale(0, BigDecimal.RoundingMode.HALF_UP).toLong) }
    val (k, dim) = (8, 64)
    assert(pts.length >= k && pts.forall(_.length == dim))
    def l2(a: Array[Long], b: Array[Long]): Long =
      a.indices.map { i => val d = a(i) - b(i); d * d }.sum
    // init = the k lowest ids; argmin long L2 with ties to the lower id;
    // truncating updates, an empty cluster keeps its previous centroid
    var cent = pts.take(k)
    var members = Map.empty[Int, Array[Array[Long]]]
    for (_ <- 1 to 3) {
      members = pts.groupBy(p => cent.indices.minBy(ci => (l2(p, cent(ci)), ci)))
      cent = Array.tabulate(k)(ci => members.get(ci).fold(cent(ci)) { ms =>
        ms.reduce((a, b) => a.zip(b).map { case (x, y) => x + y }).map(_ / ms.length)
      })
    }
    val expected = for (ci <- 0 until k; d <- 0 until dim)
      yield (ci.toLong, d.toLong, cent(ci)(d), members.get(ci).fold(0L)(_.length.toLong))
    assert(out == expected)
  }

  test("d15 Lloyd dedup: trained assignment matches a driver-side mirror of the rounds") {
    val out = SparkEntry.queries("d15_semantic_dedup_lloyd")(spark, sfDir)
      .select(col("vec_id"), col("cell")).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val emb = Tables.embeddings(spark, sfDir)
      .select(col("vec_id").cast("long"), col("embedding")).collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).toArray).sortBy(_._1)
    assert(out.size == emb.length)
    val k = math.max(16L, emb.length / 125L).toInt
    val c = math.ceil(math.sqrt(k.toDouble)).toInt
    val gs = (k + c - 1) / c
    def cos(a: Array[Float], b: Array[Float]): Double = {
      var dot = 0.0; var na = 0.0; var nb = 0.0; var i = 0
      while (i < a.length) {
        dot += a(i).toDouble * b(i).toDouble
        na += a(i).toDouble * a(i).toDouble
        nb += b(i).toDouble * b(i).toDouble
        i += 1
      }
      dot / (math.sqrt(na) * math.sqrt(nb))
    }
    def pick(v: Array[Float], cent: Array[Array[Float]]): Int = {
      val nGroups = (cent.length + gs - 1) / gs
      val gid = (0 until nGroups).map(g => (cos(v, cent(g * gs)), g)).max._2
      (gid * gs until math.min(gid * gs + gs, cent.length))
        .map(ci => (cos(v, cent(ci)), ci)).max._2
    }
    // round 1: pick against the strided-init centroids (vec_id ≡ 0 mod
    // ⌊N/k⌋, rank by id = cid); update in 1e-6-scaled integers (Spark SQL
    // round = HALF_UP on doubles; truncating division); re-derive the
    // float matrix as the float32 image of the integer state
    val stride = math.max(1L, emb.length.toLong / k)
    val cent0 = emb.filter(_._1 % stride == 0L).take(k).map(_._2)
    def x6(v: Array[Float]): Array[Long] = v.map(x =>
      BigDecimal(x.toDouble * 1e6).setScale(0, BigDecimal.RoundingMode.HALF_UP).toLong)
    val c60 = cent0.map(x6)
    val byCell = emb.groupBy { case (_, v) => pick(v, cent0) }
    val c61 = Array.tabulate(cent0.length) { ci =>
      byCell.get(ci) match {
        case Some(members) =>
          val sums = members.map { case (_, v) => x6(v) }
            .reduce((a, b) => a.zip(b).map { case (x, y) => x + y })
          sums.map(_ / members.length) // JVM long division: truncates
        case None => c60(ci)
      }
    }
    val cent1 = c61.map(_.map(l => (l.toDouble / 1e6).toFloat))
    emb.foreach { case (id, v) =>
      val cell = pick(v, cent1)
      assert(out(id) == cell.toLong, s"vec $id: operator cell ${out(id)}, mirror cell $cell")
    }
    // training must actually move the quantizer: the trained assignment
    // differs from d14's stand-in assignment for at least one vector
    val standIn = emb.map { case (id, v) => id -> pick(v, cent0).toLong }.toMap
    assert(emb.exists { case (id, _) => out(id) != standIn(id) },
      "Lloyd round produced the identical assignment — training is a no-op here")
    // VERDICT r15 item 4: pin the containment PROPERTY, not just the r15
    // artifact numbers (41× Σ|cell|² at sf100). The cell-local prune is
    // quadratic per cell, so d15's entire value is that no magnet cell
    // survives training — d14's failure mode held 61% of the corpus in
    // ONE cell. A generous balance bound (max|cell| ≤ 8·N/k, and never a
    // d14-style majority cell) keeps a future quantizer edit from
    // silently reintroducing the magnet while leaving room for the
    // natural lumpiness of real direction clusters.
    val n = emb.length
    val cellSizes = out.values.groupBy(identity).values.map(_.size.toLong).toSeq
    val maxCell = cellSizes.max
    val bound = math.max(8.0 * n / k, 0.25 * n)
    assert(maxCell <= bound,
      s"d15 magnet cell: max|cell| = $maxCell of $n (bound $bound, k=$k) — " +
        "the trained quantizer lost its containment property")
    // pin the cells INSTRUMENT (Dedup.cellStats, the number that grades
    // quantizers in BENCH_LLOYD_ROUNDS/`Probe regime`) against this
    // independent driver-side recount of the same assignment
    val (sumsq, mx, nStat, kUsed) = operators.Dedup.cellStats(
      operators.Dedup.lloydAssignment(
        Tables.embeddings(spark, sfDir), "vec_id", "embedding"))
    assert(mx == maxCell && nStat == n.toLong && kUsed == cellSizes.size.toLong,
      s"cellStats ($mx, $nStat, $kUsed) disagrees with the driver-side recount " +
        s"($maxCell, $n, ${cellSizes.size})")
    assert(sumsq == BigDecimal(cellSizes.map(c => BigInt(c) * BigInt(c)).sum),
      "cellStats Σ|cell|² disagrees with the driver-side recount")
    // ADVICE r16: an empty assignment is a measured zero-exposure profile,
    // not an NPE (zero cells → every aggregate null)
    import spark.implicits._
    assert(operators.Dedup.cellStats(
        Seq.empty[(Long, Long)].toDF("vec_id", "cell")) ==
      (BigDecimal(0), 0L, 0L, 0L))
  }

  test("q72 widened gate equals q68 below the 64-bit ceiling") {
    // the widening switch must be a pure REPRESENTATION change: wherever
    // 64-bit arithmetic hasn't wrapped, the decimal(38,0) form selects the
    // same parts with the same values (beyond the ceiling only q72 is
    // defined — that regime has no 64-bit reference to compare against)
    val narrow = SparkEntry.queries("q68_nation_value")(spark, sfDir)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val wide = SparkEntry.queries("q72_nation_value_wide")(spark, sfDir)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(wide == narrow)
  }

  test("q73-q76 widened revenue sums equal their 64-bit forms below the ceiling") {
    // the r12 application of the widening switch to the revenue_sum family
    // the sf100 gate firing named: a pure REPRESENTATION change — below the
    // ceiling every rounded output is identical (decimal(38,0) and long
    // sums are both exact; the one double cast sees the same value)
    val pairs = Seq(
      "q73_pricing_summary_wide" -> "q12_pricing_summary",
      "q74_brand_volume_wide" -> "q16_brand_volume",
      "q75_revenue_forecast_wide" -> "q48_revenue_forecast",
      "q76_promo_share_wide" -> "q49_promo_share")
    pairs.foreach { case (wideName, narrowName) =>
      val narrow = SparkEntry.queries(narrowName)(spark, sfDir)
      val wide = SparkEntry.queries(wideName)(spark, sfDir)
      assert(wide.schema == narrow.schema,
        s"$wideName schema must match $narrowName (the driver compare is column-name keyed)")
      val n = narrow.collect().toSet
      val w = wide.collect().toSet
      assert(n.nonEmpty, s"$narrowName returned no rows at test SF")
      assert(w == n, s"$wideName != $narrowName below the 64-bit ceiling")
    }
  }

  test("money-sum members aggregate through Sum128 by default, with compiled codegen") {
    // every grouped revenue/value-sum member sums through xsum's exact
    // Sum128 with no option set — the one money-sum path. Values are
    // graded against the HUGEINT DuckDB oracles by Verify; this pins that
    // the exact buffer is what actually runs, and that each member's
    // generated code compiles (with fallback off a Janino failure throws
    // instead of silently interpreting the aggregate).
    val members = Seq(
      "q12_pricing_summary", "q13_region_revenue", "q16_brand_volume",
      "q17_priority_counts", "q18_nation_rollup", "q27_age_metrics",
      "q29_salted_join", "q32_ship_priority", "q34_nation_trade",
      "q35_returned_items", "q40_market_share", "q41_product_profit",
      "q48_revenue_forecast", "q49_promo_share", "q53_small_order_revenue",
      "q54_large_orders", "q55_disjunctive_revenue", "q56_top_supplier",
      "q67_excess_shippers")
    // the buffer marker is the SUM AGGREGATE's function, read structurally
    // off the optimized plans' Aggregate nodes (a decimal in the final
    // projection — cents2/rdiv's HALF_UP — is not an aggregate buffer).
    // The plans include every query the build itself executes: q56
    // aggregates inside an eager localCheckpoint, so its final plan only
    // reads the checkpointed rows.
    def hasSum128(name: String): Boolean = {
      import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, LogicalPlan}
      import org.apache.spark.sql.catalyst.expressions.aggregate.AggregateExpression
      import org.apache.spark.sql.execution.QueryExecution
      import org.apache.spark.sql.util.QueryExecutionListener
      val built = scala.collection.mutable.ArrayBuffer.empty[LogicalPlan]
      val listener = new QueryExecutionListener {
        def onSuccess(f: String, qe: QueryExecution, d: Long): Unit =
          built.synchronized(built += qe.optimizedPlan)
        def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
      }
      spark.listenerManager.register(listener)
      val plans = try {
        val df = SparkEntry.queries(name)(spark, sfDir)
        org.apache.spark.sql.graft.ListenerDrain(spark.sparkContext)
        built.synchronized(built.toList) :+ df.queryExecution.optimizedPlan
      } finally spark.listenerManager.unregister(listener)
      plans.exists(_.collect {
        case a: Aggregate => a.aggregateExpressions.flatMap(_.collect {
          case ae: AggregateExpression => ae.aggregateFunction
        }).collect { case s: graft.expressions.Sum128 => s }
      }.flatten.nonEmpty)
    }
    val prev = spark.conf.get("spark.sql.codegen.fallback")
    spark.conf.set("spark.sql.codegen.fallback", "false")
    try members.foreach { n =>
      assert(hasSum128(n), s"$n: no Sum128 aggregate buffer in the default plan")
      val rows = withClue(s"$n: ")(SparkEntry.queries(n)(spark, sfDir).collect())
      if (rows.isEmpty) {
        // an empty result never runs the aggregate's generated code (q34's
        // nation-pair filter selects nothing at sf0.001) — re-pin the
        // member one SF up where it has rows
        val rows01 = withClue(s"$n (sf0.01): ")(
          SparkEntry.queries(n)(spark, TestSession.sfDir01).collect())
        assert(rows01.nonEmpty, s"$n returned no rows at sf0.01 either — the pin never bites")
      }
    } finally spark.conf.set("spark.sql.codegen.fallback", prev)
  }

  test("engine-level integer-cents output switch: flipped members ≡ registered escapes") {
    // VERDICT r16 task 1: GRAFT_CENTS_OUT / spark.graft.centsOut routes
    // every cast_double:cents2 member (q12/q13/q16 and the forced-wide
    // q73/q74) to its integer-cents output form — the same shape registered
    // always-on as q77/q78/q79. Pins: (a) the flag is live; (b) each
    // flipped member ≡ its escape query in schema AND rows; (c) below 2^53
    // the cents columns are exactly the HALF_UP cents of the double form's
    // dollar columns (the value-fidelity theorem the escape exists for).
    val pairs = Seq(
      "q12_pricing_summary" -> "q77_pricing_summary_cents",
      "q13_region_revenue" -> "q78_region_revenue_cents",
      "q16_brand_volume" -> "q79_brand_volume_cents",
      "q73_pricing_summary_wide" -> "q77_pricing_summary_cents",
      "q74_brand_volume_wide" -> "q79_brand_volume_cents",
      // r18 (VERDICT r17 item 3): the value_sums / event_value registered
      // representatives — the switch must route their members to EXACTLY
      // the registered form
      "q48_revenue_forecast" -> "q80_revenue_forecast_cents",
      "q75_revenue_forecast_wide" -> "q80_revenue_forecast_cents",
      "q23_tumbling_daily" -> "q81_tumbling_daily_cents")
    def shape(name: String): (Int, Int) = {
      val p = SparkEntry.queries(name)(spark, sfDir).queryExecution
        .executedPlan.toString
      ("Exchange".r.findAllIn(p).length, "Join".r.findAllIn(p).length)
    }
    try {
      spark.conf.set("spark.graft.centsOut", "true")
      assert(SparkEntry.centsOut(spark))
      val centsShape = Seq("q13_region_revenue", "q16_brand_volume",
        "q48_revenue_forecast", "q23_tumbling_daily",
        "q34_nation_trade", "q18_nation_rollup").map(shape)
      val flipped = pairs.map(_._1).distinct.map { m =>
        val df = SparkEntry.queries(m)(spark, sfDir)
        m -> (df.schema, df.collect().toSet)
      }.toMap
      spark.conf.set("spark.graft.centsOut", "false")
      assert(!SparkEntry.centsOut(spark))
      // the escape must be an OUTPUT-form change only: same exchanges,
      // same joins — pushdown/broadcast/partial-final agg shape untouched
      // (the wide-switch precedent's shape pin, applied to cents mode)
      val narrowShape = Seq("q13_region_revenue", "q16_brand_volume",
        "q48_revenue_forecast", "q23_tumbling_daily",
        "q34_nation_trade", "q18_nation_rollup").map(shape)
      assert(centsShape == narrowShape,
        s"cents mode changed the plan SHAPE (exchanges/joins), not just the " +
          s"output form: cents=$centsShape narrow=$narrowShape")
      pairs.foreach { case (m, esc) =>
        val e = SparkEntry.queries(esc)(spark, sfDir)
        val (fs, fr) = flipped(m)
        assert(fs == e.schema,
          s"$m under centsOut: schema != $esc (the escape and the switch must be ONE form)")
        val er = e.collect().toSet
        assert(er.nonEmpty, s"$esc returned no rows at test SF")
        assert(fr == er, s"$m under centsOut: rows != $esc")
      }
      // and the dollar form is the cents form's double rendering: below
      // 2^53 revenue (2-decimal HALF_UP dollars) * 100 == revenue_c2
      val dollars = SparkEntry.queries("q13_region_revenue")(spark, sfDir)
        .select(col("r_name"), col("n_name"),
          round(col("revenue") * 100).cast("long").as("c"))
        .collect().map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
      val cents = SparkEntry.queries("q78_region_revenue_cents")(spark, sfDir)
        .collect().map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
      assert(dollars.nonEmpty && cents == dollars,
        "q78 revenue_c2 != 100× q13 revenue below 2^53 — the escape changed the value, not just the form")
    } finally spark.conf.unset("spark.graft.centsOut")
  }

  test("cents switch: in-place-routed value_sums/event_value members stay exact") {
    // r18 (VERDICT r17 item 3): q53/q55 (value_sums) and q11/q30/q44/q47
    // (event_value) have no separate registered query — the switch rewrites
    // their output column to BIGINT cents IN PLACE. Pins per member, below
    // 2^53: (a) the cents column is LongType under the switch; (b) every
    // row equals the narrow row with <dollar> replaced by its exact cents
    // round(dollar*100) (null stays null — q47's leading LOCF gap); (c) all
    // other columns are untouched.
    val members = Seq(
      ("q11_salted_agg", "sum_value", "sum_value_c2"),
      ("q23_tumbling_daily", "sum_value", "sum_value_c2"),
      ("q30_incremental_agg", "sum_value", "sum_value_c2"),
      ("q44_rolling_metrics", "sum_value_24h", "sum_value_24h_c2"),
      ("q47_gap_fill", "filled_value", "filled_value_c2"),
      ("q53_small_order_revenue", "below_avg_revenue", "below_avg_revenue_c2"),
      ("q55_disjunctive_revenue", "revenue", "revenue_c2"),
      // r18 wave 2 members whose narrow output is an EXACT 1e-2 rendering
      // (2-decimal rounded or S2/100), so round(dollar*100) recovers the
      // cents integer exactly — the same recovery the q78 pin relies on
      ("q08_profiles_view", "total_spend", "total_spend_c2"),
      ("q18_nation_rollup", "sum_acctbal", "sum_acctbal_c2"),
      ("q22_range_join", "sum_value", "sum_value_c2"),
      ("q29_salted_join", "sum_price", "sum_price_c2"),
      ("q32_ship_priority", "revenue", "revenue_c2"),
      ("q43_idle_customers", "total_bal", "total_bal_c2"),
      ("q54_large_orders", "total_qty", "total_qty_c2"),
      ("q59_cube_volume", "total_qty", "total_qty_c2"))
    try {
      spark.conf.set("spark.graft.centsOut", "false")
      val narrow = members.map { case (m, d, c) =>
        val df = SparkEntry.queries(m)(spark, sfDir)
        val cols = df.columns.map(n =>
          if (n == d) round(col(d) * 100).cast("long").as(c) else col(n))
        m -> df.select(cols.toIndexedSeq: _*).collect().toSet
      }.toMap
      spark.conf.set("spark.graft.centsOut", "true")
      members.foreach { case (m, d, c) =>
        val df = SparkEntry.queries(m)(spark, sfDir)
        assert(!df.columns.contains(d) && df.columns.contains(c),
          s"$m under centsOut must rename $d -> $c")
        assert(df.schema(c).dataType == org.apache.spark.sql.types.LongType,
          s"$m under centsOut: $c must be BIGINT")
        val rows = df.collect().toSet
        assert(rows.nonEmpty, s"$m returned no rows at test SF")
        assert(rows == narrow(m),
          s"$m under centsOut: rows != exact cents of the narrow form")
      }
    } finally spark.conf.unset("spark.graft.centsOut")
  }

  test("cents switch: 1e-4-scale in-place members within half-cent of the dollar form") {
    // r18 wave 2, the 1e-4-scale members (q34/q35/q40/q41/q49/q56): their
    // narrow dollars carry 4 decimals, so re-deriving cents from the
    // DOUBLE via round(dollar*100) can flip at a true .5 midpoint — this
    // pin therefore asserts (a) identical group-key sets, (b) every
    // non-value column identical, (c) |cents_c2 − round(dollar*100)| ≤ 1.
    // EXACTNESS of the cents values is the DuckDB cents sweeps' job
    // (CORRECTNESS_CENTS / CORRECTNESS_SF1_CENTS — the real gate).
    val tolMembers = Seq(
      ("q34_nation_trade", "revenue", "revenue_c2", Seq("supp_nation", "cust_nation", "l_year")),
      ("q35_returned_items", "revenue", "revenue_c2", Seq("c_custkey")),
      ("q40_market_share", "total_revenue", "total_revenue_c2", Seq("o_year")),
      ("q41_product_profit", "profit", "profit_c2", Seq("nation", "o_year")),
      ("q49_promo_share", "promo_revenue", "promo_revenue_c2", Seq("l_year")),
      ("q56_top_supplier", "total_revenue", "total_revenue_c2", Seq("suppkey")))
    def keyed(df: org.apache.spark.sql.DataFrame, valueCol: String, keys: Seq[String])
        : Map[Seq[Any], (Seq[Any], Long)] =
      df.collect().map { r =>
        val k = keys.map(c => r.get(r.fieldIndex(c)))
        val others = df.columns.filterNot(c => keys.contains(c) || c == valueCol)
          .sorted.toSeq.map(c => r.get(r.fieldIndex(c)))
        val v = r.get(r.fieldIndex(valueCol)) match {
          case d: Double => math.round(d * 100)
          case l: Long => l
          case x => fail(s"unexpected $valueCol type: $x")
        }
        k -> ((others, v))
      }.toMap
    try {
      spark.conf.set("spark.graft.centsOut", "false")
      // q34's nation-pair × shipdate filter is empty at sf0.001 — fall back
      // to sf0.01 per member so the pin always bites (the wide-pin pattern)
      val dirs = tolMembers.map { case (m, d, _, ks) =>
        val at001 = keyed(SparkEntry.queries(m)(spark, sfDir), d, ks)
        if (at001.nonEmpty) m -> ((sfDir, at001))
        else m -> ((TestSession.sfDir01,
          keyed(SparkEntry.queries(m)(spark, TestSession.sfDir01), d, ks)))
      }.toMap
      spark.conf.set("spark.graft.centsOut", "true")
      tolMembers.foreach { case (m, _, c, ks) =>
        val (dir, n) = dirs(m)
        val cents = keyed(SparkEntry.queries(m)(spark, dir), c, ks)
        assert(cents.nonEmpty, s"$m returned no rows at test SF ($dir)")
        assert(cents.keySet == n.keySet, s"$m under centsOut: group keys differ")
        cents.foreach { case (k, (others, v)) =>
          val (nOthers, nv) = n(k)
          assert(others == nOthers, s"$m/$k under centsOut: non-value columns differ")
          assert(math.abs(v - nv) <= 1L,
            s"$m/$k under centsOut: cents $v vs dollar-derived $nv — off by more than the .5-midpoint band")
        }
      }
    } finally spark.conf.unset("spark.graft.centsOut")
  }

  test("xsum wide buffer stays exact where the 64-bit sum wraps") {
    // the ≡-below-the-ceiling pin above proves the widening is a pure
    // representation change; THIS proves the property the variants exist
    // for — correctness ABOVE the ceiling, the regime the overflow gate
    // detects (revenue_sum at 340% of 2⁶³ at sf100). 200 terms of 2⁶⁰:
    // Σ = 2.3·10²⁰ ≈ 25× past 2⁶³.
    import spark.implicits._
    val big = (1L to 200L).map(_ => 1L << 60).toDF("term")
    val exact = BigInt(200) * (BigInt(1) << 60)
    val wide = big.agg(SparkEntry.xsum(col("term")).cast("string"))
      .head().getString(0)
    assert(BigInt(wide) == exact, s"decimal(38,0) sum must be exact: got $wide")
    // a 64-bit sum silently WRAPS in non-ANSI mode — the failure xsum
    // exists to rule out
    val narrow = big.agg(sum(col("term"))).head().getLong(0)
    assert(BigInt(narrow) != exact, "64-bit sum unexpectedly exact past the ceiling — " +
      "did ANSI mode flip? the gate's premise changed")
  }

  test("t13 url domains: url total matches the injection arithmetic") {
    val out = SparkEntry.queries("t13_url_domains")(spark, sfDir).collect()
    val docs = Tables.documents(spark, sfDir)
    val expectedUrls = docs.where(pmod(col("doc_id"), lit(4)) < 3).count() +
      docs.where(pmod(col("doc_id"), lit(8)) === 0).count()
    assert(out.map(_.getAs[Long]("n_urls")).sum == expectedUrls && expectedUrls > 0)
  }

  test("q46 retention: offset-0 cell count equals signup users of that week") {
    val out = SparkEntry.queries("q46_retention_cohorts")(spark, sfDir)
    // every signup user is active in their own cohort week (the signup
    // event itself), so offset 0 sums to the number of signup users
    val signupUsers = Tables.events(spark, sfDir)
      .where(col("event_type") === "signup").select("user_id").distinct().count()
    val offset0 = out.where(col("week_offset") === 0)
      .agg(sum("n_active")).collect()(0).getLong(0)
    assert(offset0 == signupUsers && signupUsers > 0)
  }

  test("q47 gap fill: contiguous days per user, gaps carry the last value") {
    val out = SparkEntry.queries("q47_gap_fill")(spark, sfDir)
    // every user's series is contiguous: row count = d1 - d0 + 1
    val spanRows = out.groupBy("user_id")
      .agg((max("day_idx") - min("day_idx") + 1).as("span"), count(lit(1)).as("n"))
      .where(col("span") =!= col("n"))
    assert(spanRows.count() == 0, "holes remain after gap fill")
    assert(out.where(col("filled_value").isNull).count() == 0, "unfilled values")
  }

  test("q48 revenue forecast: matches a direct filtered aggregate") {
    val out = SparkEntry.queries("q48_revenue_forecast")(spark, sfDir).collect()(0)
    val n = Tables.lineitem(spark, sfDir)
      .where(col("l_shipdate") >= lit("1996-01-01").cast("timestamp") &&
        col("l_shipdate") < lit("1997-01-01").cast("timestamp") &&
        col("l_discount").between(0.02, 0.04) && col("l_quantity") < 24).count()
    assert(out.getAs[Long]("n_items") == n && n > 0)
  }

  test("q49 promo share: shares in [0,1], one row per ship year") {
    val out = SparkEntry.queries("q49_promo_share")(spark, sfDir).collect()
    assert(out.nonEmpty)
    assert(out.map(_.getAs[Long]("l_year")).distinct.length == out.length)
    assert(out.forall { r =>
      val s = r.getAs[Double]("promo_share"); s >= 0.0 && s <= 1.0
    })
  }

  test("q50 rolling actives: wau >= dau, both bounded by the user count") {
    val out = SparkEntry.queries("q50_rolling_active")(spark, sfDir)
    val users = Tables.events(spark, sfDir).select("user_id").distinct().count()
    assert(out.count() > 0)
    assert(out.where(col("wau") < col("dau") || col("wau") > users).count() == 0)
  }

  test("s07 mmr: 3 distinct picks per query; pick 1 is the relevance argmax") {
    val out = SparkEntry.queries("s07_mmr_diversify")(spark, sfDir)
    val perQ = out.groupBy("q_id")
      .agg(count(lit(1)).as("n"), count_distinct(col("neighbor_id")).as("nd"))
      .where(col("n") =!= 3 || col("nd") =!= 3)
    assert(perQ.count() == 0, "each query must select 3 distinct items")
    // pick 1 carries the maximum relevance of the query's selections
    val bad = out.groupBy("q_id")
      .agg(max(col("rel")).as("mx"),
        max(when(col("pick") === 1, col("rel"))).as("p1"))
      .where(col("p1") < col("mx"))
    assert(bad.count() == 0, "pick 1 must be the most relevant selection")
  }

  test("s08 pq: 8 segments per vector, codes in [0,16), codebook vectors are exact") {
    val out = SparkEntry.queries("s08_pq_encode")(spark, sfDir)
    val nVec = Tables.embeddings(spark, sfDir).count()
    assert(out.count() == nVec * 8)
    assert(out.where(col("code") < 0 || col("code") > 15).count() == 0)
    // a codebook vector reconstructs itself: zero error on every segment
    val ids = Tables.embeddings(spark, sfDir)
      .orderBy("vec_id").limit(16).select("vec_id")
    assert(out.join(ids, "vec_id").where(abs(col("err")) > 1e-9).count() == 0,
      "codebook member has nonzero reconstruction error")
  }

  test("pq_seg_best: a vector shorter than nSeg*segDim yields NULL, not garbage") {
    // the ADVICE r7 guard: the kernel reads nSeg*segDim positions — a short
    // (malformed) embedding must surface as NULL (the caller's quarantine
    // signal), never an AIOOBE or invalid reads; checked in BOTH execution
    // modes since the guard exists separately in eval and codegen
    import spark.implicits._
    import graft.expressions.VectorExprs
    val codewords = Array(Seq.fill(8)(1.0f), Seq.fill(8)(2.0f))
    val df = Seq(
      (1L, Seq.fill(8)(1.0f)), // full length: encodes
      (2L, Seq.fill(3)(1.0f)), // short: NULL
      (3L, Seq.empty[Float])   // empty: NULL
    ).toDF("id", "v")
    val key = "spark.sql.codegen.wholeStage"
    val saved = spark.conf.get(key)
    try Seq("true", "false").foreach { codegen =>
      spark.conf.set(key, codegen)
      val out = df.select(col("id"),
        VectorExprs.pqSegBest(col("v"), codewords, nSeg = 4, segDim = 2).as("best"))
        .collect().map(r => r.getLong(0) -> r.isNullAt(1)).toMap
      assert(out == Map(1L -> false, 2L -> true, 3L -> true), s"codegen=$codegen: $out")
    } finally spark.conf.set(key, saved)
  }

  test("hyperplane sig kernel ≡ unrolled dotFF tree (both execution modes, null/short/empty)") {
    // r18: the fused HyperplaneSigFL kernel replaced the 64× dotFF
    // CASE-WHEN sum (which blew Janino's 64 KB limit and silently
    // interpreted the whole banding scan). The two forms must agree
    // bit-for-bit — including the legacy null contract (NULL vector →
    // sig 0, not NULL) and short/empty vectors (dot over min(|v|, dim)).
    import spark.implicits._
    val rnd = new scala.util.Random(42)
    val rows: Seq[(Long, Seq[Float])] =
      (1L to 50L).map(i => i -> Seq.fill(64)(rnd.nextFloat() * 2 - 1)) ++
        Seq(100L -> Seq.fill(3)(0.5f), 101L -> Seq.empty[Float])
    val df = rows.toDF("id", "v")
      .unionByName(Seq((102L, null.asInstanceOf[Seq[Float]])).toDF("id", "v"))
    val key = "spark.sql.codegen.wholeStage"
    val saved = spark.conf.get(key)
    try Seq("true", "false").foreach { codegen =>
      spark.conf.set(key, codegen)
      val out = df.select(col("id"),
        graft.operators.Similarity.hyperplaneSig(col("v"), 64, 64).as("fused"),
        Reference.hyperplaneSigUnrolled(col("v"), 64, 64).as("unrolled"))
        .collect()
      assert(out.length == 53)
      out.foreach { r =>
        assert(!r.isNullAt(1) && !r.isNullAt(2),
          s"codegen=$codegen id=${r.getLong(0)}: sig must never be NULL")
        assert(r.getLong(1) == r.getLong(2),
          s"codegen=$codegen id=${r.getLong(0)}: fused=${r.getLong(1)} unrolled=${r.getLong(2)}")
      }
    } finally spark.conf.set(key, saved)
  }

  test("q51 triangles: census row is consistent (wedges >= triangles >= 0)") {
    val r = SparkEntry.queries("q51_triangles")(spark, sfDir).collect()(0)
    val (e, w, t) = (r.getAs[Long]("n_edges"), r.getAs[Long]("n_wedges"),
      r.getAs[Long]("n_triangles"))
    assert(e > 0 && w >= t && t >= 0)
  }

  test("s09 adc: 5 ranked picks per query, distances non-negative and sorted") {
    val out = SparkEntry.queries("s09_adc_search")(spark, sfDir).collect()
    val byQ = out.groupBy(_.getAs[Long]("q_id"))
    assert(byQ.nonEmpty && byQ.values.forall(_.length == 5))
    byQ.values.foreach { rows =>
      val sorted = rows.sortBy(_.getAs[Long]("rank"))
      val ds = sorted.map(_.getAs[Double]("adc"))
      assert(ds.forall(_ >= 0.0) && (ds, ds.tail).zipped.forall(_ <= _),
        "adc distances must be non-negative and ascending in rank")
    }
  }

  test("q52 pagerank: one rank per node, all at least the teleport base") {
    val out = SparkEntry.queries("q52_pagerank")(spark, sfDir)
    val n = out.count()
    assert(n > 0 && out.select("node_id").distinct().count() == n)
    val base = (1000000000000L * 15L / 100L) / n
    assert(out.where(col("rank_scaled") < base).count() == 0,
      "every node keeps at least the teleport mass")
  }

  test("t14 mixture: kept counts are proportional to weights where unbound") {
    val out = SparkEntry.queries("t14_mixture_sample")(spark, sfDir).collect()
    assert(out.nonEmpty)
    // quotas never exceed availability
    val counts = Tables.documents(spark, sfDir).groupBy("source").count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    out.foreach { r =>
      assert(r.getAs[Long]("n_kept") <= counts(r.getAs[String]("source")))
    }
  }

  test("t15 chunk plan: spans tile each doc with the configured overlap") {
    val out = SparkEntry.queries("t15_chunk_plan")(spark, sfDir)
    assert(out.count() > 0)
    // every chunk is non-empty and starts on the stride grid
    assert(out.where(col("n_tok_chunk") <= 0 ||
      col("start_tok") =!= col("chunk_idx") * 96).count() == 0)
    // consecutive chunks overlap by exactly size - stride except the tail
    assert(out.where(col("n_tok_chunk") > 128).count() == 0)
  }

  test("q54 large orders: 20 rows, quantity gate respected, sorted desc") {
    val out = SparkEntry.queries("q54_large_orders")(spark, sfDir).collect()
    assert(out.length == 20)
    assert(out.forall(_.getAs[Double]("total_qty") > 200.0))
    val qs = out.map(_.getAs[Double]("total_qty"))
    assert((qs, qs.tail).zipped.forall(_ >= _), "not sorted by total_qty desc")
  }

  test("q57 checksum: detects a single-row perturbation") {
    val base = SparkEntry.queries("q57_sync_checksum")(spark, sfDir).collect()(0)
    // recompute over a state with one value changed: checksum must differ
    val st = graft.operators.MergeOps
      .latestByKey(Tables.events(spark, sfDir), Seq("user_id"), Seq("ts_us", "event_id"))
      .select(col("user_id"), col("event_id"), col("ts_us"), col("event_type"),
        (round(col("value") * 100).cast("long") +
          when(col("user_id") === 0, 1L).otherwise(0L)).as("v2"))
    val tampered = st.select(conv(substring(md5(concat_ws("|",
        col("user_id"), col("event_id"), col("ts_us"), col("event_type"), col("v2"))),
        1, 15), 16, 10).cast("long").as("digest"))
      .agg(expr("bit_xor(digest)").as("checksum")).collect()(0)
    assert(base.getAs[Long]("checksum") != tampered.getAs[Long]("checksum"))
  }

  test("mmr with zero diversity weight degenerates to relevance top-k") {
    import graft.operators.Similarity
    val emb = Tables.embeddings(spark, sfDir)
    val qset = emb.where(col("vec_id") < 4)
    val mmr = Similarity
      .mmrSelect(emb, qset, "vec_id", "embedding", kCand = 10, k = 3, lamRel = 1.0, lamDiv = 0.0)
      .select("q_id", "pick", "neighbor_id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val topk = Similarity.bruteForceTopK(emb, qset, "vec_id", "embedding", k = 3)
      .select("q_id", "rank", "neighbor_id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(mmr == topk, "lamDiv=0 MMR must equal the relevance ranking")
  }

  test("triangle census equals a brute-force triple count") {
    import graft.operators.GraphOps
    val edges = Tables.events(spark, sfDir).select(
      col("user_id").as("src"),
      pmod(graft.expressions.JsonKernels.jsonLongField(col("props"), "k"), lit(150)).as("dst"))
      .where(col("dst").isNotNull)
    val out = GraphOps.triangleCount(edges, "src", "dst").collect()(0)
    val und = edges
      .select(least(col("src"), col("dst")).as("u"), greatest(col("src"), col("dst")).as("v"))
      .where(col("u") =!= col("v")).distinct().collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val nodes = und.toSeq.flatMap(e => Seq(e._1, e._2)).distinct.sorted.toIndexedSeq
    var tri = 0L
    for {
      i <- nodes.indices; j <- (i + 1) until nodes.length
      if und((nodes(i), nodes(j)))
      k <- (j + 1) until nodes.length
      if und((nodes(j), nodes(k))) && und((nodes(i), nodes(k)))
    } tri += 1
    assert(out.getAs[Long]("n_triangles") == tri)
    assert(out.getAs[Long]("n_edges") == und.size.toLong)
  }

  test("pagerank mass never exceeds the scale (floors and dangling only leak)") {
    val out = SparkEntry.queries("q52_pagerank")(spark, sfDir)
    val total = out.agg(sum("rank_scaled")).collect()(0).getLong(0)
    assert(total > 0L && total <= 1000000000000L)
  }

  test("d12: exactly one survivor per cluster, clusters close over d04 pairs") {
    val out = SparkEntry.queries("d12_dedup_pipeline")(spark, sfDir)
    val docs = Tables.documents(spark, sfDir)
    // roster covers the whole corpus
    assert(out.count() == docs.count())
    // each cluster keeps exactly one doc — the min id (labels are min ids)
    val perCluster = out.groupBy("cluster_id")
      .agg(sum("keep").as("kept"), min("doc_id").as("mn"))
    assert(perCluster.where(col("kept") =!= 1L).count() == 0,
      "a cluster must keep exactly one doc")
    assert(out.where(col("keep") === 1L && col("doc_id") =!= col("cluster_id")).count() == 0,
      "survivor must be the cluster min")
    // every d04-confirmed pair lands in one cluster
    val pairs = SparkEntry.queries("d04_ngram_jaccard")(spark, sfDir)
      .select(col("a"), col("b"))
    val lbl = out.select(col("doc_id"), col("cluster_id"))
    val split = pairs
      .join(lbl.withColumnRenamed("doc_id", "a").withColumnRenamed("cluster_id", "ca"), Seq("a"))
      .join(lbl.withColumnRenamed("doc_id", "b").withColumnRenamed("cluster_id", "cb"), Seq("b"))
      .where(col("ca") =!= col("cb"))
    assert(split.count() == 0, "a confirmed near-dup pair straddles two clusters")
  }

  test("t18: every gate fires on a constructed violator and passes clean text") {
    import spark.implicits._
    val good = (("w" * 5 + " ") * 60 + "the of and").trim // 63 words, len-5 words, 3 stopwords
    val shortDoc = "the of and tiny"                      // word count < 50
    val longWords = (("w" * 20 + " ") * 60 + "the of").trim // mean word length > 10
    val noStops = ("w" * 5 + " ") * 60                     // < 2 stopwords
    val symbols = (("#w21" + " ") * 30 + ("word " * 30) + "the of and").trim // sym ratio > 0.1
    val df = Seq((1L, good), (2L, shortDoc), (3L, longWords), (4L, noStops), (5L, symbols))
      .toDF("doc_id", "text")
    // route the synthetic docs through the same expressions the query uses
    val q = SparkEntry.queries("t18_gopher_rules")
    // same expressions as the query body, applied to the probe frame
    val out = {
      val stopwords = Seq("the", "a", "of", "and", "to", "in", "is")
      val sp = regexp_replace(lower(trim(col("text"))), "\\s+", " ")
      val nWords = regexp_count(sp, lit("[^ ]+"))
      df.select(col("doc_id"),
        nWords.cast("long").as("n_words"),
        length(regexp_replace(sp, " ", "")).cast("long").as("char_sum"),
        regexp_count(sp, lit("[^ ]*[a-z][^ ]*")).cast("long").as("alpha_words"),
        regexp_count(sp, lit("[^ ]*#[^ ]*")).cast("long").as("sym_words"),
        stopwords.map(w => when(sp.rlike("(^| )" + w + "( |$)"), 1L).otherwise(0L))
          .reduce(_ + _).as("stop_distinct"))
        .withColumn("keep",
          when(col("n_words") >= 50 && col("n_words") <= 100000 &&
            col("char_sum") >= col("n_words") * 3 && col("char_sum") <= col("n_words") * 10 &&
            col("alpha_words") * 5 >= col("n_words") * 4 &&
            col("sym_words") * 10 <= col("n_words") &&
            col("stop_distinct") >= 2, 1L).otherwise(0L))
    }
    val keeps = out.collect().map(r => r.getLong(0) -> r.getLong(r.fieldIndex("keep"))).toMap
    assert(keeps(1L) == 1L, "clean doc rejected")
    assert(keeps(2L) == 0L, "short doc passed the word-count gate")
    assert(keeps(3L) == 0L, "long-word doc passed the mean-length gate")
    assert(keeps(4L) == 0L, "stopword-free doc passed the stopword gate")
    assert(keeps(5L) == 0L, "symbol-heavy doc passed the symbol gate")
    // and the registered query runs on testdata with sane stats
    val real = q(spark, sfDir)
    assert(real.where(col("alpha_words") =!= col("n_words")).count() == 0,
      "testdata corpus is all-alpha; alpha_words must equal n_words")
  }

  test("q62: priority split partitions the joined rows exactly") {
    val out = SparkEntry.queries("q62_shipmode_priority")(spark, sfDir).collect()
    assert(out.nonEmpty && out.map(_.getString(0)).toSet.subsetOf(Set("A", "N")))
    out.foreach { r =>
      assert(r.getLong(1) >= 0L && r.getLong(2) >= 0L && r.getLong(1) + r.getLong(2) > 0L)
    }
  }

  test("q66 bfs: seeds at depth 0; every other depth is 1 + min in-neighbor depth") {
    val out = SparkEntry.queries("q66_bfs_depths")(spark, sfDir)
    val edges = Tables.events(spark, sfDir).select(
      col("user_id").as("src"),
      pmod(graft.expressions.JsonKernels.jsonLongField(col("props"), "k"), lit(150)).as("dst"))
      .where(col("dst").isNotNull && col("user_id") =!= col("dst"))
      .distinct()
    val d = out.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(d.nonEmpty && d.filter(_._2 == 0L).keySet == d.keySet.filter(_ < 2L))
    // BFS local optimality: depth(v) = 1 + min over in-neighbors u of depth(u)
    val es = edges.collect().map(r => (r.getLong(0), r.getLong(1)))
    d.filter(_._2 > 0L).foreach { case (v, dep) =>
      val best = es.collect { case (u, w) if w == v && d.contains(u) => d(u) }.min
      assert(dep == best + 1, s"node $v depth $dep but best in-neighbor ${best}")
    }
  }

  test("d13 trained semantic dedup: keep flags follow the min-id rule within cells") {
    val out = SparkEntry.queries("d13_semantic_dedup_trained")(spark, sfDir)
    assert(out.count() == Tables.embeddings(spark, sfDir).count())
    // the lowest id in every cell always survives
    val minPerCell = out.groupBy("cell").agg(min("vec_id").as("mn"))
    val dropped = out.join(minPerCell, Seq("cell"))
      .where(col("vec_id") === col("mn") && col("keep") === 0L)
    assert(dropped.count() == 0, "a cell's min id can never have a lower-id peer")
  }

  test("m07 frame near-dup: pairs are canonical and within the hamming bound") {
    val out = SparkEntry.queries("m07_frame_neardup")(spark, sfDir).collect()
    assert(out.nonEmpty)
    out.foreach { r =>
      val (am, af, bm, bf) = (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))
      assert(am < bm || (am == bm && af < bf), s"non-canonical pair $r")
      assert(r.getInt(4) >= 0 && r.getInt(4) <= 3)
    }
    // pigeonhole completeness spot check: identical fingerprints (hamming
    // 0) must all be present — compare against a direct m06 self-join
    val fp = SparkEntry.queries("m06_frame_phash")(spark, sfDir)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2))
    val exact0 = (for {
      ((ma, fa), ha) <- fp; ((mb, fb), hb) <- fp
      if (ma < mb || (ma == mb && fa < fb)) && ha == hb
    } yield ()).size
    assert(out.count(_.getInt(4) == 0) == exact0)
  }

  test("m01 multimodal stats cover all three kinds") {
    val out = SparkEntry.queries("m01_multimodal")(spark, sfDir).collect()
    assert(out.map(_.getString(0)).toSet == Set("image", "audio", "video"))
    val totalMedia = out.map(_.getAs[Long]("n_media")).sum
    assert(totalMedia == Tables.documents(spark, sfDir).count())
  }
}
