package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.operators._
import graft.functions.TextFns

/** Driver contract — see /root/repo/SURVEY.md §2 for the inventory. */
object SparkEntry {

  /** Snapshot-merge cutoff (2024-01-08T00:00:00Z, epoch microseconds). */
  private val CutUs = 1704672000000000L
  /** Backfill window (2024-01-05 .. 2024-01-20 UTC, epoch microseconds). */
  private val BackfillStartUs = 1704412800000000L
  private val BackfillEndUs = 1705708800000000L

  /** The canonical row-filter DSL document — q03 applies it, q38 accounts
    * for the filtered sync it defines; one constant so they can't diverge.
    */
  private val RowFilterDemoJson =
    """{"$or": [
      |  {"data.event_type": {"$in": ["purchase", "click"]}},
      |  {"data.value": {"$gte": 150.0}, "data.event_type": {"$nin": ["error", "signup"]}}
      |]}""".stripMargin

  /** Per-row CU price of the filtered events sync (q38). */
  private val EventsCuPrice = 2L

  /** Session prep for every entry point: our hash pipelines rely on 64-bit
    * wraparound (ANSI off) and events.ts is parquet TIMESTAMP(NANOS).
    */
  def prep(spark: SparkSession): SparkSession = {
    spark.conf.set("spark.sql.ansi.enabled", "false")
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    // Parquet scan parallelism is bounded by ROW-GROUP granularity, not
    // split sizing: a split only does work if a row group's midpoint falls
    // inside it, so sub-row-group splits are empty tasks. The round-6 1 MB
    // compute-proportional split tuning (kernels cost ~100× more per byte
    // than plain scans, so kernel scans deserve ~100× smaller splits — the
    // measured sf1 symptom was a 15-min single-task kernel stage behind 23
    // idle threads) was calibrated against multi-row-group testdata; the
    // round-7 regenerated testdata is ONE row group per file, where 1 MB
    // splits parallelize nothing and add 10–30 empty tasks per scan —
    // measured: a uniform 1.3–1.9× slowdown on the fact-join family,
    // reverted by restoring the 128 MB default (A/B'd at 1/4/16/128 MB).
    // The knob remains for many-row-group layouts — the sf1 scale set
    // (32 row groups/table, tools/gen_scale.py) and real export
    // directories — where SPARK_GRAFT_SPLIT_MB=4 re-enables
    // compute-proportional splits and the kernel-parallelism win is real.
    // Partitioning never changes results (aggregates are exact-integer or
    // order-pinned — the correctness gate's invariant).
    val splitMb = sys.env.getOrElse("SPARK_GRAFT_SPLIT_MB", "128").toLong
    spark.conf.set("spark.sql.files.maxPartitionBytes", (splitMb * 1024 * 1024).toString)
    spark.conf.set("spark.sql.files.openCostInBytes", (32L * 1024).toString)
    // Same bytes-vs-compute mismatch on the SHUFFLE side: AQE's partition
    // coalescing floors at minPartitionSize (1 MB default), so a barrier
    // repartition carrying only (id, sig) keys — a few hundred KB at test
    // scale — coalesces back to ONE partition, and the band explode +
    // pair-generation join downstream of it inherit the single partition
    // (observed: a 24-thread session running d07's whole candidate stage
    // on one core). Kernel-heavy narrow rows deserve a floor ~32× lower;
    // genuinely large shuffles are untouched (coalescing still targets
    // bytes/parallelism first and never splits beyond the initial count).
    spark.conf.set("spark.sql.adaptive.coalescePartitions.minPartitionSize", (32L * 1024).toString)
    spark
  }

  private def q(fn: (SparkSession, String) => DataFrame): (SparkSession, String) => DataFrame =
    (s, dir) => fn(prep(s), dir)

  /** Exact 1e-2-scaled integer of a 2-decimal monetary/rate double — the
    * determinism rule (SURVEY §4): SUM integers, divide once at the end.
    * A double sum's accumulation-order error is unbounded in row count;
    * q16's revenue drifted past compare tolerance the first time a group
    * reached ~230k rows (sf1), while the integer form is bit-identical at
    * any scale, partitioning, or retry.
    */
  // r18: the scaling runs through the guarded fast-round kernel
  // (MoneyRound.scala) — bit-identical to round(c*100).cast("long") for
  // every input (MoneyRoundSpec), without the per-row BigDecimal/string
  // conversion Spark's Round pays on doubles
  private def c2(c: Column): Column =
    graft.expressions.MoneyRound.scaledLong(c, 100)

  /** Exact HALF_UP of a scaled-integer sum to 2 decimals, decided in
    * INTEGER arithmetic — the determinism rule's missing last step. The
    * former `round(sum.cast(double)/10^s, 2)` form left the tie-break to
    * `round(double, 2)`, whose semantics differ across engines (Spark
    * rounds the shortest-decimal repr HALF_UP, DuckDB rounds the binary
    * value), and an exact scaled sum DOES land on true ties at production
    * row counts: first observed at sf200, where q12's A/O group charge sum
    * ended ...685000 and the engines split .68 vs .69 on the last cent.
    * Here the dropped digits are carried in decimal(38,0) integer space —
    * `floor((S + k/2) / k)` with k = 10^(scale-2) — so both engines
    * compute the identical cent. The division's result scale (≥6) holds
    * the ≤4 fractional digits exactly. The final `.cast("double")` is the
    * LAST exactness boundary and its headroom is REAL, not comfortable:
    * the measured family-ceiling cents at sf200 are 6.28e15 — already 70%
    * of double's 2^53 = 9.007e15 exact-integer range — so an exact sum
    * growing linearly outruns the cast near sf~285. OverflowAudit carries a
    * `cents_double` row against the 2^53 ceiling for exactly this cast
    * (escape: emit integer cents — the q77 registered form). Oracle
    * mirror: `CAST((sum + k/2) // k AS DOUBLE) / 100.0` (positive sums, so
    * DuckDB's truncating `//` is floor).
    */
  private def cents2(sumI: Column, scale: Int): Column = {
    val k = math.pow(10, scale - 2).toLong
    floor((sumI.cast("decimal(38,0)") + lit(k / 2)) / lit(k))
      .cast("double") / lit(100.0)
  }

  /** Exact integral division of nonnegative decimals. `floor(a / b)` is
    * NOT exact on decimals: Spark's decimal division rounds the quotient
    * to the result scale (≥6 digits) first, so a true quotient within
    * 5e-7 BELOW a whole number floors one too high. Subtracting the exact
    * remainder first makes the division itself integral, hence exact at
    * any result scale. ([[cents2]] doesn't need this: its quotient's
    * fraction has ≤4 digits, inside the result scale.)
    */
  private def idiv(a: Column, b: Column): Column = {
    val ad = a.cast("decimal(38,0)"); val bd = b.cast("decimal(38,0)")
    ((ad - pmod(ad, bd)) / bd).cast("decimal(38,0)")
  }

  /** Exact HALF_UP of an integer quotient `num / den` to `d` decimal
    * places, decided wholly in decimal(38,0) integer arithmetic:
    * `floor((2·num·10^d + den) / (2·den)) / 10^d` — the [[cents2]] rule
    * generalized to ARBITRARY denominators (ADVICE r15: the tie-break
    * class fixed for sums still lived on the quotient columns; a
    * round(double, d) of a quotient splits engines whenever the true
    * value lands on a 10^-(d+1)·5 boundary, which count/count and
    * sum/count ratios genuinely hit — e.g. 68/128 = 0.53125 ties at
    * d=4). The ×2 form keeps the half-step integral for every den (q27's
    * +den/2 shortcut needs den even). Precondition: num ≥ 0, den > 0 —
    * all registered ratio sites are count/sum-of-nonnegative quotients
    * (floor-based HALF_UP rounds toward +∞ at negative ties, which
    * Spark/DuckDB round() do not). Oracle mirror:
    * `CAST((2·num·10^d + den) // (2·den) AS DOUBLE) / 10^d` — positive
    * operands, so DuckDB's truncating `//` is floor, and BIGINT sums are
    * HUGEINT there so the ×2·10^d blow-up cannot wrap either engine.
    * The quotient result itself is ≤ 10^d·(num/den) — every registered
    * ratio is ≤ ~10^4·avg-magnitude, far inside double's 2^53.
    */
  private def rdiv(num: Column, den: Column, d: Int): Column = {
    val p = math.pow(10, d).toLong
    idiv(num.cast("decimal(38,0)") * lit(2L * p) + den.cast("decimal(38,0)"),
        den.cast("decimal(38,0)") * lit(2L))
      .cast("double") / lit(p.toDouble)
  }

  /** Σ over an exact scaled-integer term: the engine's one money-sum path.
    * [[graft.expressions.Sum128]] accumulates the long term in a two-long
    * (128-bit) codegen buffer and yields decimal(38,0) — exact, hence
    * order-independent and hash-stable, with no 64-bit ceiling on the SUM
    * (the per-row term itself is still a long). It is the only sum here
    * because it measured within run-to-run noise of the 64-bit sum on
    * every member (BENCH_AB_WIDESUMS.json; q12, with seven sums per row,
    * is the most consistent cost at ~1.14×), with the 64-bit form's plan
    * shape. Every consumer reads the result through a double cast, a
    * decimal(38,0) integer chain (cents2/centsI/rdiv/idiv) or a
    * decimal-safe comparison, and the DuckDB oracles sum in HUGEINT, so
    * the output matches them past 2⁶³.
    */
  private[graft] def xsum(term: Column): Column =
    org.apache.spark.sql.graft.ColumnBridge.column(
      graft.expressions.Sum128(
        org.apache.spark.sql.graft.ColumnBridge.expression(term.cast("long")))
        .toAggregateExpression())

  /** The ENGINE-LEVEL integer-cents OUTPUT switch (VERDICT r16 task 1,
    * generalizing q77 beyond the pricing-summary family). [[xsum]]'s
    * exact sum has no 64-bit ceiling, but the final `.cast("double")/10^s`
    * still rounds once the integer passes 2^53 (~sf285 for q12's charge
    * cents, measured 70% at sf200, fired in anger at sf300) — drift, not
    * garbage, and still hash-identical cross-engine, but no longer the
    * exact ledger amount. Flipping `GRAFT_CENTS_OUT=1` (env; GraftSettings)
    * or `spark.graft.centsOut` (runtime conf, takes precedence) routes
    * EVERY member of OverflowAudit's `cast_double` rows to its
    * integer-cents output form: the `cents2` row (q12, q13, q16 and their
    * aliases q73, q74); — r18, VERDICT r17 item 3 — the
    * `value_sums` row (q48/q75, q53, q55) and the `event_value` row (q11,
    * q22, q23, q30, q44, q47); and — r18 wave 2 — the `grouped_revenue`
    * row (q34, q40, q41, q49/q76 — these cross 2^53 FIRST, ~sf19-60), the
    * `entity_revenue` row (q08, q29, q32, q35, q56 — constant per entity,
    * alarm = key skew), the `acctbal` row (q18, q43) and the `qty` row
    * (q54, q59). The form is HALF_UP cents as BIGINT (exact to
    * 2^63 cents ≈ $9.2e16, ~10^3× the 2^53 line), sums exact ([[xsum]])
    * where the internal scale exceeds 2 (q30's fold state is already the
    * 64-bit cents ledger, so its escape only drops the cast). This is an
    * OUTPUT-FORM change (schema differs: `_c2`
    * BIGINT columns, avg columns omitted — per-row means never approach
    * 2^53), so each FAMILY has a registered always-on escape query with
    * its own HUGEINT oracle: q77 (pricing summary), q78 (region revenue),
    * q79 (brand volume), q80 (revenue forecast — the value_sums
    * representative), q81 (tumbling daily — the event_value
    * representative); the in-place-routed members verify against their
    * own cents oracle texts via [[oracleSqlFor]]. QueriesSpec pins the
    * switch-flipped members ≡ their registered/cents forms.
    */
  private[graft] def centsOut(s: SparkSession): Boolean =
    s.conf.getOption("spark.graft.centsOut")
      .fold(GraftSettings.flag(sys.env, "GRAFT_CENTS_OUT"))(GraftSettings.isOn)

  /** HALF_UP integer cents of a nonnegative 10^scale-scaled integer sum —
    * the BIGINT output column of the cents escape forms ([[centsOut]]):
    * `floor((S + k/2) / k)` with k = 10^(scale-2), the [[cents2]] rule
    * minus its final double cast. Exact to 2^63 cents. */
  private def centsI(sumI: Column, scale: Int): Column = {
    val k = math.pow(10, scale - 2).toLong
    idiv(sumI.cast("decimal(38,0)") + lit(k / 2), lit(k)).cast("long")
  }

  /** Sign-symmetric [[centsI]] (HALF_UP away from zero — Spark `round`'s
    * rule) for sums that can be NEGATIVE (q41's profit): Spark's floor
    * division and DuckDB's truncating `//` disagree on negative
    * numerators, so both engines compute on |S| and reapply the sign
    * (the m05 restructure-to-nonnegative rule). */
  private def centsIS(sumI: Column, scale: Int): Column =
    when(sumI < 0, -centsI(-sumI, scale)).otherwise(centsI(sumI, scale))

  // The revenue_sum family (q12/q13/q16/q48/q49, summed through [[xsum]];
  // q73–q76 are aliases of q12/q16/q48/q49). The `cents` output-form
  // parameter ([[centsOut]]) emits HALF_UP cents as BIGINT — the 2^53
  // cast-fidelity escape, registered always-on as q77–q80.
  private def pricingSummary(s: SparkSession, dir: String, cents: Boolean): DataFrame = {
    val base = Tables.lineitem(s, dir)
      .where(to_date(col("l_shipdate")) <= lit("1998-09-02"))
      .groupBy(col("l_returnflag"), col("l_linestatus"))
    val disc = c2(col("l_extendedprice")) * (lit(100L) - c2(col("l_discount")))
    if (cents)
      // avg columns omitted: per-row means never approach 2^53
      base.agg(
        xsum(c2(col("l_quantity"))).cast("long").as("sum_qty_c2"),
        xsum(c2(col("l_extendedprice"))).cast("long").as("sum_base_price_c2"),
        centsI(xsum(disc), 4).as("sum_disc_price_c2"),
        centsI(xsum(disc * (lit(100L) + c2(col("l_tax")))), 6).as("sum_charge_c2"),
        count(lit(1)).as("count_order"))
    else
      base.agg(
        round(xsum(c2(col("l_quantity"))).cast("double") / lit(100.0), 2).as("sum_qty"),
        round(xsum(c2(col("l_extendedprice"))).cast("double") / lit(100.0), 2).as("sum_base_price"),
        cents2(xsum(disc), 4).as("sum_disc_price"),
        cents2(xsum(disc * (lit(100L) + c2(col("l_tax")))), 6).as("sum_charge"),
        rdiv(xsum(c2(col("l_quantity"))), count(lit(1)) * lit(100L), 4).as("avg_qty"),
        rdiv(xsum(c2(col("l_extendedprice"))), count(lit(1)) * lit(100L), 4).as("avg_price"),
        rdiv(xsum(c2(col("l_discount"))), count(lit(1)) * lit(100L), 4).as("avg_disc"),
        count(lit(1)).as("count_order"))
  }

  private def brandVolume(s: SparkSession, dir: String, cents: Boolean): DataFrame = {
    val li = Tables.lineitem(s, dir)
    val p = Tables.part(s, dir)
    val base = li.join(broadcast(p), li("l_partkey") === p("p_partkey"))
      .groupBy(col("p_brand"))
    val disc = c2(col("l_extendedprice")) * (lit(100L) - c2(col("l_discount")))
    if (cents)
      base.agg(
        xsum(c2(col("l_quantity"))).cast("long").as("sum_qty_c2"),
        centsI(xsum(disc), 4).as("revenue_c2"),
        count(lit(1)).as("n_items"))
    else
      base.agg(
        round(xsum(c2(col("l_quantity"))).cast("double") / lit(100.0), 2).as("sum_qty"),
        cents2(xsum(disc), 4).as("revenue"),
        count(lit(1)).as("n_items"))
  }

  private def regionRevenue(s: SparkSession, dir: String, cents: Boolean): DataFrame = {
    val li = Tables.lineitem(s, dir)
    val o = Tables.orders(s, dir)
    val c = Tables.customer(s, dir)
    val n = Tables.nation(s, dir)
    val r = Tables.region(s, dir)
    val base = li.join(o, li("l_orderkey") === o("o_orderkey"))
      .join(c, o("o_custkey") === c("c_custkey"))
      .join(broadcast(n), c("c_nationkey") === n("n_nationkey"))
      .join(broadcast(r), n("n_regionkey") === r("r_regionkey"))
      .groupBy(col("r_name"), col("n_name"))
    val disc = c2(col("l_extendedprice")) * (lit(100L) - c2(col("l_discount")))
    if (cents)
      base.agg(centsI(xsum(disc), 4).as("revenue_c2"),
        count(lit(1)).as("n_items"))
    else
      base.agg(cents2(xsum(disc), 4).as("revenue"),
        count(lit(1)).as("n_items"))
  }

  private def revenueForecast(s: SparkSession, dir: String, cents: Boolean): DataFrame = {
    // TPC-H Q6 shape: the what-if revenue scan — every predicate
    // (shipdate range, discount band, quantity cap) pushes to the
    // parquet scan, the aggregate is a single exact scaled-integer sum;
    // zero shuffles beyond the final scalar reduce. cents=true is the
    // 2^53 output-cast escape (the q77 pattern): HALF_UP cents as BIGINT
    // — registered always-on as q80, routed in place for
    // q48/q75 by [[centsOut]].
    val base = Tables.lineitem(s, dir)
      .where(col("l_shipdate") >= lit("1996-01-01").cast("timestamp") &&
        col("l_shipdate") < lit("1997-01-01").cast("timestamp") &&
        col("l_discount").between(0.02, 0.04) && col("l_quantity") < 24)
    val disc4 = graft.expressions.MoneyRound.scaledLong(col("l_extendedprice") * col("l_discount"), 10000)
    if (cents)
      base.agg(centsI(xsum(disc4), 4).as("revenue_c2"),
        count(lit(1)).as("n_items"))
    else
      base.agg(
        (xsum(disc4).cast("double") / 10000.0).as("revenue"),
        count(lit(1)).as("n_items"))
  }

  /** q23's tumbling-daily rollup, output-form parameterized ([[centsOut]]):
    * cents=true emits the value sum as BIGINT cents (exact [[xsum]]
    * accumulate, the q77 rule) — registered always-on as q81, routed in
    * place for q23. */
  private def tumblingDaily(s: SparkSession, dir: String,
      cents: Boolean = false): DataFrame = {
    val base = Tables.events(s, dir)
      .groupBy(expr("ts_us div 86400000000").as("day_idx"))
    if (cents)
      base.agg(count(lit(1)).as("n"),
        xsum(c2(col("value"))).cast("long").as("sum_value_c2"))
    else
      base.agg(count(lit(1)).as("n"),
        round(sum(c2(col("value"))).cast("double") / lit(100.0), 2).as("sum_value"))
  }

  private def promoShare(s: SparkSession, dir: String, cents: Boolean): DataFrame = {
    // TPC-H Q14 shape: promo revenue share by ship year — the part dim
    // broadcasts into the fact scan and the share is a ratio of two
    // exact scaled-integer conditional sums (the q40 rule), so the one
    // FP op is the final division. cents=true swaps the revenue CAST for
    // HALF_UP BIGINT cents (the share is rdiv-exact in every mode) —
    // the grouped_revenue 2^53 escape, routed in place for q49/q76.
    val li = Tables.lineitem(s, dir)
      .select(col("l_partkey"), year(col("l_shipdate")).cast("long").as("l_year"),
        graft.expressions.MoneyRound
          .scaledLong(col("l_extendedprice") * (lit(1.0) - col("l_discount")), 10000).as("vol4"))
    li.join(broadcast(Tables.part(s, dir).select(col("p_partkey"), col("p_type"))),
        col("l_partkey") === col("p_partkey"))
      .groupBy(col("l_year"))
      .agg(
        xsum(when(col("p_type") === "PROMO", col("vol4")).otherwise(0L)).as("p4"),
        xsum(col("vol4")).as("a4"))
      .select(col("l_year"),
        rdiv(col("p4"), col("a4"), 6).as("promo_share"),
        (if (cents) centsI(col("p4"), 4).as("promo_revenue_c2")
         else (col("p4").cast("double") / 10000.0).as("promo_revenue")))
  }

  /** Flagship query on sf=0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    queries("q13_region_revenue")(spark, "/root/testdata/sf0.001")

  // --------------------------------------------------------------------------

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // --- core ETL semantics (reference behaviors) ---------------------------
    "q01_latest_wins" -> q { (s, dir) =>
      MergeOps
        .latestByKey(Tables.events(s, dir), Seq("user_id"), Seq("ts_us", "event_id"))
        .select(col("user_id"), col("event_id"), col("ts_us"), col("event_type"), col("value"))
    },
    "q02_snapshot_merge" -> q { (s, dir) =>
      val ev = Tables.events(s, dir)
        .select(col("user_id"), col("event_id"), col("ts_us"), col("value"))
      val full = MergeOps
        .latestByKey(ev.where(col("ts_us") < CutUs), Seq("user_id"), Seq("ts_us", "event_id"))
        .withColumn("src", lit("full"))
      val inc = ev.where(col("ts_us") >= CutUs).withColumn("src", lit("incremental"))
      MergeOps.snapshotMerge(full, inc, Seq("user_id"), Seq("ts_us", "event_id"))
    },
    "q03_rowfilter" -> q { (s, dir) =>
      Tables.events(s, dir)
        .where(RowFilter.compile(RowFilterDemoJson))
        .select(col("event_id"), col("user_id"), col("event_type"), col("value"))
    },
    "q04_backfill_range" -> q { (s, dir) =>
      Tables.events(s, dir)
        .where(col("ts_us") >= BackfillStartUs && col("ts_us") <= BackfillEndUs)
        .select(col("event_id"), col("user_id"), col("ts_us"), col("event_type"), col("value"))
    },
    "q05_pk_dedup" -> q { (s, dir) =>
      MergeOps
        .latestByKey(Tables.events(s, dir), Seq("user_id", "event_type"), Seq("ts_us", "event_id"))
        .select(col("user_id"), col("event_type"), col("event_id"), col("ts_us"), col("value"))
    },
    "q06_json_extract" -> q { (s, dir) =>
      // JSONB cleaning path (db.py:261-281): Python-literal payloads are
      // repaired to strict JSON ahead of the parse — real exports carry
      // {'k': 1}-shaped reprs that a strict parser silently NULLs. The
      // testdata is strict JSON, so the repair is a zero-copy prefix check
      // here (and the DuckDB oracle is unchanged).
      import graft.expressions.PyLiteralJson.pyJsonNormalize
      Tables.events(s, dir)
        .select(col("event_id"),
          get_json_object(pyJsonNormalize(col("props")), "$.k").cast("long").as("k"))
    },
    "q07_tracking" -> q { (s, dir) =>
      Tables.events(s, dir)
        .where(pmod(col("event_id"), lit(5)) =!= 0) // "completed" files
        .groupBy(col("event_type"))
        .agg(
          max(col("ts_us")).as("last_ts_us"),
          max_by(col("event_id"), struct(col("ts_us"), col("event_id"))).as("last_event_id"),
          count(lit(1)).as("n_completed"))
    },
    "q08_profiles_view" -> q { (s, dir) =>
      val c = Tables.customer(s, dir)
      val o = Tables.orders(s, dir)
      c.join(o, c("c_custkey") === o("o_custkey"), "left")
        .groupBy(col("c_custkey"), col("c_name"))
        .agg(
          count(col("o_orderkey")).as("n_orders"),
          // centsOut (r18): spend as BIGINT cents — the 2^53 cast escape,
          // in place (cast_double:entity_revenue row)
          (if (centsOut(s))
             coalesce(xsum(c2(col("o_totalprice"))).cast("long"), lit(0L))
               .as("total_spend_c2")
           else
             round(coalesce(sum(c2(col("o_totalprice"))), lit(0L)).cast("double") / lit(100.0), 2)
               .as("total_spend")),
          coalesce(max(unix_millis(col("o_orderdate").cast("timestamp"))), lit(0L)).as("last_order_ms"))
    },
    "q09_graph_degree" -> q { (s, dir) =>
      GraphOps.degrees(Tables.lineitem(s, dir), "l_suppkey", "l_partkey")
    },
    "q10_edge_merge" -> q { (s, dir) =>
      // edge dst comes from the props JSON — extracted with the fused
      // scanner kernel (no per-row Jackson parser on the hot scan path)
      val edges = Tables.events(s, dir).select(
        col("user_id").as("src"),
        graft.expressions.JsonKernels.jsonLongField(col("props"), "k").as("dst"),
        col("ts_us"))
      GraphOps.mergeEdges(edges, "src", "dst", "ts_us")
    },

    // --- analytics engine core (bench headliners) ---------------------------
    "q12_pricing_summary" -> q((s, dir) =>
      pricingSummary(s, dir, centsOut(s))),
    "q13_region_revenue" -> q((s, dir) =>
      regionRevenue(s, dir, centsOut(s))),
    "q14_top_customers" -> q { (s, dir) =>
      val w = Window.partitionBy(col("o_custkey")).orderBy(col("o_totalprice").desc, col("o_orderkey").asc)
      Tables.orders(s, dir)
        .withColumn("rank", row_number().over(w).cast("long"))
        .where(col("rank") <= 3)
        .select(col("o_custkey"), col("o_orderkey"), col("o_totalprice"), col("rank"))
    },
    "q15_event_sessions" -> q { (s, dir) =>
      val w = Window.partitionBy(col("user_id")).orderBy(col("ts_us").asc, col("event_id").asc)
      Tables.events(s, dir)
        .withColumn("prev_ts", lag(col("ts_us"), 1).over(w))
        .withColumn(
          "new_session",
          when(col("prev_ts").isNull || col("ts_us") - col("prev_ts") > 1800000000L, 1L).otherwise(0L))
        .groupBy(col("user_id"))
        .agg(sum(col("new_session")).as("n_sessions"), count(lit(1)).as("n_events"))
    },

    "q11_salted_agg" -> q { (s, dir) =>
      // hot-key-safe two-stage aggregation (Skew.saltedSumCount); result is
      // identical to a plain groupBy — the oracle proves exactly that
      // value pre-scaled to exact 1e-2 integers so the two salted stages sum
      // longs — a double would accumulate differently per salt bucket count.
      // centsOut routes to the integer-cents output form (BIGINT cents,
      // wide salted stages) — the 2^53 cast escape, in place (r18).
      val cents = centsOut(s)
      val agg = Skew.saltedSumCount(
        Tables.events(s, dir).withColumn("v2", c2(col("value"))), Seq("event_type"), "v2",
        buckets = 8, saltSource = Seq("event_id"), wide = cents)
      if (cents)
        agg.select(col("event_type"), col("n_rows"),
          col("sum_v2").cast("long").as("sum_value_c2"))
      else
        agg.select(col("event_type"), col("n_rows"),
          round(col("sum_v2").cast("double") / lit(100.0), 2).as("sum_value"))
    },
    "q29_salted_join" -> q { (s, dir) =>
      // skew-safe fact×dim join (hot suppliers spread over 8 reducers per
      // key); the oracle is the PLAIN join — salting must be invisible
      val dim = Tables.supplier(s, dir)
        .select(col("s_suppkey").as("l_suppkey"), col("s_name"))
      Skew.saltedJoin(
        Tables.lineitem(s, dir).select(col("l_suppkey"), col("l_extendedprice"), col("l_orderkey"), col("l_linenumber")),
        dim, "l_suppkey", buckets = 8, saltSource = Seq("l_orderkey", "l_linenumber"))
        .groupBy(col("s_name"))
        .agg(count(lit(1)).as("n_items"),
          // centsOut (r18): per-supplier price cents as BIGINT, in place
          (if (centsOut(s))
             xsum(c2(col("l_extendedprice"))).cast("long").as("sum_price_c2")
           else
             round(xsum(c2(col("l_extendedprice"))).cast("double") / lit(100.0), 2)
               .as("sum_price")))
    },
    "q16_brand_volume" -> q((s, dir) =>
      brandVolume(s, dir, centsOut(s))),
    "q17_priority_counts" -> q { (s, dir) =>
      Tables.orders(s, dir)
        .where(unix_millis(col("o_orderdate").cast("timestamp")).between(788918400000L, 796694399999L))
        .groupBy(col("o_orderpriority"))
        .agg(count(lit(1)).as("n_orders"),
          rdiv(xsum(c2(col("o_totalprice"))), count(lit(1)) * lit(100L), 2).as("avg_price"))
    },
    "q18_nation_rollup" -> q { (s, dir) =>
      val c = Tables.customer(s, dir)
      val n = Tables.nation(s, dir)
      val r = Tables.region(s, dir)
      c.join(broadcast(n), c("c_nationkey") === n("n_nationkey"))
        .join(broadcast(r), n("n_regionkey") === r("r_regionkey"))
        .rollup(col("r_name"), col("n_name"))
        .agg(count(lit(1)).as("n_customers"),
          // centsOut (r18): acctbal is already cents — BIGINT direct, no
          // division (negative balances stay exact; cast_double:acctbal)
          (if (centsOut(s))
             xsum(c2(col("c_acctbal"))).cast("long").as("sum_acctbal_c2")
           else
             round(xsum(c2(col("c_acctbal"))).cast("double") / lit(100.0), 2)
               .as("sum_acctbal")))
        .select(
          coalesce(col("r_name"), lit("(all)")).as("r_name"),
          coalesce(col("n_name"), lit("(all)")).as("n_name"),
          col("n_customers"),
          col(if (centsOut(s)) "sum_acctbal_c2" else "sum_acctbal"))
    },
    "q57_sync_checksum" -> q { (s, dir) =>
      // order-independent content checksum of the merged current state —
      // the cheap source↔sink agreement check a sync service runs after an
      // import (row count + XOR of 60-bit md5 row digests; any
      // changed/missing/extra row flips the checksum). Canonical row text
      // scales the double to an integer (double→string repr differs across
      // engines); md5 and XOR are identical everywhere, XOR is closed on
      // 64 bits (an integer SUM overflows differently per engine: Spark
      // wraps, DuckDB widens to HUGEINT) and needs no ordering — one agg
      // scan over the merged state.
      val st = MergeOps
        .latestByKey(Tables.events(s, dir), Seq("user_id"), Seq("ts_us", "event_id"))
        .select(col("user_id"), col("event_id"), col("ts_us"), col("event_type"),
          graft.expressions.MoneyRound.scaledLong(col("value"), 100).as("v2"))
      st.select(conv(substring(md5(concat_ws("|",
          col("user_id"), col("event_id"), col("ts_us"), col("event_type"), col("v2"))),
          1, 15), 16, 10).cast("long").as("digest"))
        .agg(count(lit(1)).as("n_rows"), expr("bit_xor(digest)").as("checksum"))
    },
    "q19_registry_sync" -> q { (s, dir) => Registry.syncAll(s, dir) },
    "q39_typed_sync" -> q { (s, dir) =>
      // registry sync with per-table JSONB cleaning (db.py:45 JSON_COLUMNS +
      // db.py:261-282 clean_jsonb_data): the synced events state lands with
      // props as a TYPED struct, not a JSON string — the flattened typed
      // field below only exists because from_json succeeded on every row
      Registry.currentStateTyped(s, dir, "events")
        .select(col("user_id"), col("event_id"), col("ts_us"),
          col("event_type"), col("props.k").as("prop_k"))
    },
    "q33_node_merge" -> q { (s, dir) =>
      // reference node MERGE (users.py:12, neo4j_queries.py:8-37): one node
      // table per label, latest property write wins. Two entity sources with
      // a shared prop schema union into one stream; mergeNodes is the
      // single-shuffle grouped argmax per (label, node_key).
      val userNodes = Tables.events(s, dir).select(
        lit("user").as("label"), col("user_id").as("node_key"),
        col("event_type").as("name"), col("value").as("score"),
        col("ts_us").as("updated_ts"), col("event_id").as("upd_id"))
      val custNodes = Tables.customer(s, dir).select(
        lit("customer").as("label"), col("c_custkey").as("node_key"),
        col("c_name").as("name"), col("c_acctbal").as("score"),
        lit(0L).as("updated_ts"), lit(0L).as("upd_id"))
      GraphOps.mergeNodes(userNodes.unionByName(custNodes),
        "label", "node_key", Seq("updated_ts", "upd_id"))
    },
    "q21_asof_join" -> q { (s, dir) =>
      // orders mapped into the events time window (deterministic arithmetic
      // mirrored in the oracle, which uses DuckDB's native ASOF LEFT JOIN)
      val probe = Tables.orders(s, dir).select(
        col("o_orderkey"),
        pmod(col("o_custkey"), lit(100)).as("uid"),
        (lit(1704067200000000L) +
          pmod(unix_millis(col("o_orderdate").cast("timestamp")), lit(2592000000L)) * 1000L).as("t_us"))
      val build = Tables.events(s, dir).select(
        col("user_id").as("uid"), col("ts_us").as("t_us"), col("event_id"), col("value"))
      TemporalJoins.asofJoin(build, probe, "uid", "t_us",
        buildPayload = Seq("event_id", "value"), probeId = Seq("o_orderkey"))
        .select(col("o_orderkey"), col("uid"), col("t_us"),
          col("asof_event_id"), col("asof_value"))
    },
    "q28_asof_native" -> q { (s, dir) =>
      // same query as q21 through the native Catalyst operator
      // (AsOfJoinPlan/Exec) — both are held to the same DuckDB ASOF oracle
      val probe = Tables.orders(s, dir).select(
        col("o_orderkey"),
        pmod(col("o_custkey"), lit(100)).as("uid"),
        (lit(1704067200000000L) +
          pmod(unix_millis(col("o_orderdate").cast("timestamp")), lit(2592000000L)) * 1000L).as("t_us"))
      val build = Tables.events(s, dir).select(
        col("user_id").as("uid"), col("ts_us").as("t_us"), col("event_id"), col("value"))
      TemporalJoins.asofJoinNative(build, probe, "uid", "t_us",
        buildPayload = Seq("event_id", "value"), probeId = Seq("o_orderkey"))
        .select(col("o_orderkey"), col("uid"), col("t_us"),
          col("asof_event_id"), col("asof_value"))
    },
    "q22_range_join" -> q { (s, dir) =>
      import s.implicits._
      val ranges = Seq(
        (0L, 0.0, 50.0), (1L, 50.0, 100.0), (2L, 100.0, 150.0),
        (3L, 150.0, 200.0), (4L, 200.0, 1e9))
        .toDF("band_id", "lo", "hi")
      TemporalJoins.rangeJoin(Tables.events(s, dir), ranges, "value", "lo", "hi")
        .groupBy(col("band_id"))
        .agg(count(lit(1)).as("n"),
          // centsOut (r18): band sums join the event_value cents family
          (if (centsOut(s))
             xsum(c2(col("value"))).cast("long").as("sum_value_c2")
           else
             round(sum(c2(col("value"))).cast("double") / lit(100.0), 2).as("sum_value")))
    },
    "q24_scd2_intervals" -> q { (s, dir) =>
      // SCD2 history: every event version with its validity window
      MergeOps.scd2Intervals(
        Tables.events(s, dir).select(col("user_id"), col("event_id"), col("ts_us"), col("value")),
        Seq("user_id"), "ts_us", Seq("event_id"))
        .select(col("user_id"), col("event_id"), col("valid_from"), col("valid_to"), col("is_current"))
    },
    "q25_mutual_edges" -> q { (s, dir) =>
      val edges = Tables.events(s, dir).select(
        col("user_id").as("src"),
        pmod(graft.expressions.JsonKernels.jsonLongField(col("props"), "k"), lit(150)).as("dst"))
        .where(col("dst").isNotNull)
      GraphOps.mutualEdges(edges, "src", "dst")
    },
    "q51_triangles" -> q { (s, dir) =>
      // triangle census over the FOLLOWS graph — the clustering/community
      // signal layer above q09's degrees; degree-ordered orientation bounds
      // the wedge fan-out by graph arboricity (see GraphOps.triangleCount)
      val edges = Tables.events(s, dir).select(
        col("user_id").as("src"),
        pmod(graft.expressions.JsonKernels.jsonLongField(col("props"), "k"), lit(150)).as("dst"))
        .where(col("dst").isNotNull)
      GraphOps.triangleCount(edges, "src", "dst")
    },
    "q52_pagerank" -> q { (s, dir) =>
      // 5-iteration PageRank over FOLLOWS in exact scaled-integer
      // arithmetic — an ITERATIVE graph algorithm with a bit-exact
      // cross-engine oracle (the oracle unrolls the same five integer
      // iterations; a double-weighted rank could never hash-match)
      val edges = Tables.events(s, dir).select(
        col("user_id").as("src"),
        pmod(graft.expressions.JsonKernels.jsonLongField(col("props"), "k"), lit(150)).as("dst"))
        .where(col("dst").isNotNull)
      GraphOps.pageRank(edges, "src", "dst", iters = 5)
    },
    "q38_cu_accounting" -> q { (s, dir) =>
      // reference CU cost accounting (db.py:440-480, neynar_api.py:39): each
      // table has a per-row CU price; when row filters are active the
      // filtered multiplier applies to every SCANNED row (pre-filter) and
      // the plain per-row price is zeroed — you pay for what the importer
      // reads, not what it keeps. Prices are a static map here (the
      // reference fetches them from its pricing portal at runtime).
      // ONE aggregate scan per table; the filtered table counts scanned and
      // kept in the same pass (conditional sum, no second scan).
      val mult = 2L // settings.filtered_row_multiplier
      def costed(name: String, df: DataFrame, price: Long): DataFrame =
        df.agg(count(lit(1)).as("n_scanned"))
          .select(lit(name).as("table_name"), col("n_scanned"),
            col("n_scanned").as("n_imported"),
            (col("n_scanned") * lit(price)).as("cu_cost"))
      val pred = RowFilter.compile(RowFilterDemoJson)
      val filteredEvents = Tables.events(s, dir)
        .agg(count(lit(1)).as("n_scanned"),
          sum(when(pred, 1L).otherwise(0L)).as("n_imported"))
        .select(lit("events").as("table_name"), col("n_scanned"), col("n_imported"),
          (col("n_scanned") * lit(EventsCuPrice) * lit(mult)).as("cu_cost"))
      costed("orders", Tables.orders(s, dir), 3L)
        .unionByName(costed("lineitem", Tables.lineitem(s, dir), 1L))
        .unionByName(costed("customer", Tables.customer(s, dir), 5L))
        .unionByName(filteredEvents)
    },
    "q37_follow_suggest" -> q { (s, dir) =>
      // friend-of-follow recommendations on the events-derived FOLLOWS graph
      // (same edge derivation as q25): 2-hop fan-out over deduped edges,
      // anti-join exclusion, top-5 per user
      val edges = Tables.events(s, dir).select(
        col("user_id").as("src"),
        pmod(graft.expressions.JsonKernels.jsonLongField(col("props"), "k"), lit(150)).as("dst"))
      GraphOps.suggestFollows(edges, "src", "dst", k = 5)
        .select(col("u").as("user_id"), col("cand").as("suggested_id"),
          col("n_common"), col("rnk").as("rank"))
    },
    "q26_price_percentiles" -> q { (s, dir) =>
      // discrete (type-1) quantiles via rank selection: integer row picks,
      // no interpolation float math to drift between engines. The rank
      // comes from Binning.rankInClass (two-pass range-partitioned rank),
      // NOT a per-class window sort — 5 priority classes would otherwise
      // be 5 single-task sorts at 100 TB (VERDICT r7); ceil(n*q) stays in
      // FP on both engines (the q65 rule).
      val o = Tables.orders(s, dir)
        .select(col("o_orderpriority"), col("o_orderkey"), col("o_totalprice"))
      Binning.rankInClass(o, "o_orderpriority", "o_totalprice", "o_orderkey")
        .groupBy(col("o_orderpriority"))
        .agg(
          max(when(col("rn") === ceil(col("n") * lit(0.5)), col("o_totalprice"))).as("p50"),
          max(when(col("rn") === ceil(col("n") * lit(0.9)), col("o_totalprice"))).as("p90"),
          count(lit(1)).as("n_orders"))
    },
    "q27_age_metrics" -> q { (s, dir) =>
      // parquet_row_age_s analog: row age vs the newest row, exact integer
      // sums so the double division is bit-identical across engines.
      // The age sum is an INTERVAL family, not a monetary one, and it is
      // the engine's earliest 64-bit crossing: worst per-type Σ(mx−ts_us)
      // measured 0.29% of 2⁶³ at sf0.1 — linear in rows AND in span, so it
      // passes 100% near sf35 and reads 573% at sf200 (where a 64-bit sum
      // was garbage while DuckDB's HUGEINT was not — caught r15 by the
      // sf200 probe). Hence the exact [[xsum]], like the monetary
      // families. Rounding is exact-integer HALF_UP both columns: the
      // avg via [[idiv]] on (S + n·5000) / (n·10⁴) — n·5000 is integral
      // for every n, so no ×2 widening of the term — and the max via
      // [[cents2]].
      val ev = Tables.events(s, dir)
      val mx = ev.agg(max(col("ts_us")).as("mx"))
      ev.crossJoin(broadcast(mx))
        .groupBy(col("event_type"))
        .agg(
          count(lit(1)).as("n"),
          (idiv(xsum(col("mx") - col("ts_us")) + count(lit(1)) * lit(5000L),
            count(lit(1)) * lit(10000L)).cast("double") / lit(100.0)).as("avg_age_s"),
          cents2(max(col("mx") - col("ts_us")), 6).as("max_age_s"))
    },
    "s03_ann_ivf" -> q { (s, dir) =>
      val emb = Tables.embeddings(s, dir)
      Similarity.ivfTopK(emb, emb.where(col("vec_id") < 8), "vec_id", "embedding", k = 5)
    },
    "q23_tumbling_daily" -> q((s, dir) => tumblingDaily(s, dir, cents = centsOut(s))),

    // --- training-data pipeline ---------------------------------------------
    "d01_dedup_exact" -> q { (s, dir) =>
      Dedup.exact(Tables.documents(s, dir), "doc_id", "text")
    },
    "d02_dedup_minhash" -> q { (s, dir) =>
      // est_jaccard is matches/64 — exact in double (power-of-two
      // denominator), so ·64 recovers the integer match count and rdiv
      // decides the 4-decimal tie in integer space (m=34 → 0.53125 is a
      // REAL tie at d=4 that round(double, 4) would split across engines)
      Dedup.minhashLsh(Tables.documents(s, dir), "doc_id", "text", minEstJaccard = 0.5)
        .select(col("a"), col("b"),
          rdiv(round(col("est_jaccard") * lit(64)).cast("long"), lit(64L), 4)
            .as("est_jaccard"))
    },
    "d03_dedup_simhash" -> q { (s, dir) =>
      Dedup.simhash(Tables.documents(s, dir), "doc_id", "text", maxHamming = 3)
    },
    "d04_ngram_jaccard" -> q { (s, dir) =>
      Dedup.ngramJaccard(Tables.documents(s, dir), "doc_id", "text", minJaccard = 0.5)
    },
    "d05_embed_neardup" -> q { (s, dir) =>
      Dedup.embeddingNearDup(Tables.embeddings(s, dir), "vec_id", "embedding", minCosine = 0.35)
    },
    "s06_quantize" -> q { (s, dir) =>
      // int8-style scale quantization for embedding STORAGE at 100 TB
      // (4 bytes → 1 byte per dim): per-dimension global min/max, code =
      // floor((v-mn)·255/(mx-mn)). The s04 cell pattern — posexplode to
      // (vec, dim) cells with map-side partial aggs, 64-row dim stats
      // broadcast back, everything codegen (no interpreted array lambdas);
      // output summarizes each vector's code block so the oracle can
      // hash-check the exact quantization
      val cells = Tables.embeddings(s, dir)
        .select(col("vec_id"), posexplode(col("embedding")).as(Seq("pos", "v")))
        .select(col("vec_id"), col("pos"), col("v").cast("double").as("v"))
      val stats = cells.groupBy(col("pos"))
        .agg(min(col("v")).as("mn"), max(col("v")).as("mx"))
      cells.join(broadcast(stats), Seq("pos"))
        .select(col("vec_id"),
          when(col("mx") > col("mn"),
            floor((col("v") - col("mn")) * lit(255.0) / (col("mx") - col("mn"))))
            .otherwise(lit(0.0)).cast("long").as("code"))
        .groupBy(col("vec_id"))
        .agg(count(lit(1)).as("n_dims"), sum(col("code")).as("code_sum"),
          min(col("code")).as("code_min"), max(col("code")).as("code_max"))
    },
    "d09_embed_delta" -> q { (s, dir) =>
      // incremental embedding near-dup: pairs touching the 2% newest-vector
      // delta, via the pre-built band index pattern (corpus never shuffles);
      // oracle is the delta-restricted all-pairs scan — recall must be 1.0
      val emb = Tables.embeddings(s, dir)
      Dedup.embeddingNearDupDelta(
        emb.where(pmod(col("vec_id"), lit(100)) < 98),
        emb.where(pmod(col("vec_id"), lit(100)) >= 98),
        "vec_id", "embedding", minCosine = 0.35, dim = 64)
    },
    "d10_passage_dedup" -> q { (s, dir) =>
      // exact-substring passage dedup signals (Lee et al. 2022, the
      // "Deduplicating Training Data" pass): a token 8-gram occurring in
      // more than one DOCUMENT marks its occurrences as duplicated text;
      // per doc we report the fraction of gram positions so marked. The
      // gram pass is the d02/t08 fused codegen kernel (one scan, no
      // interpreted lambdas); per-(gram, doc) counts reduce with map-side
      // partials FIRST, so the cross-doc count-over-window runs on the
      // collapsed set — the shuffle carries distinct (gram, doc) pairs,
      // never raw gram positions.
      import graft.expressions.HashExprs
      val k = 8
      val grams = Tables.documents(s, dir).select(col("doc_id"),
        explode(HashExprs.tokenShingleHashes(col("text"), k)).as("g"))
      val perDocGram = grams.groupBy(col("g"), col("doc_id"))
        .agg(count(lit(1)).as("c"))
      val nDocs = perDocGram
        .withColumn("n_docs", count(lit(1)).over(Window.partitionBy(col("g"))))
      nDocs.groupBy(col("doc_id"))
        .agg(sum(col("c")).as("n_passages"),
          sum(when(col("n_docs") >= 2, col("c")).otherwise(0L)).as("n_dup_passages"))
        .select(col("doc_id"), col("n_passages"), col("n_dup_passages"),
          rdiv(col("n_dup_passages"), col("n_passages"), 4).as("dup_frac"))
    },
    "s07_mmr_diversify" -> q { (s, dir) =>
      // MMR diversified retrieval: top-20 relevance pool per query, greedy
      // k=3 selection at 0.7·rel − 0.3·max-sim-to-selected — the diverse
      // sample selection pass over the embedding corpus; oracle unrolls the
      // same three greedy steps in SQL
      val emb = Tables.embeddings(s, dir)
      Similarity.mmrSelect(emb, emb.where(col("vec_id") < 8), "vec_id", "embedding",
        kCand = 20, k = 3, lamRel = 0.7, lamDiv = 0.3)
    },
    "s08_pq_encode" -> q { (s, dir) =>
      // product quantization: 64 dims -> 8 nibble codes against the
      // deterministic per-segment codebook; per-(vector, segment) rows so
      // nothing cross-engine depends on aggregation order
      Similarity.pqEncode(Tables.embeddings(s, dir), "vec_id", "embedding", dim = 64)
    },
    "s09_adc_search" -> q { (s, dir) =>
      // PQ asymmetric-distance search: corpus as nibble codes, queries as
      // raw vectors + precomputed (seg, codeword) LUTs — scoring is 8
      // table lookups per vector; top-5 per query by ADC distance
      val emb = Tables.embeddings(s, dir)
      Similarity.adcSearch(emb, emb.where(col("vec_id") < 8), "vec_id", "embedding",
        dim = 64, k = 5)
    },
    "s11_kmeans_train" -> q { (s, dir) =>
      // exact-integer Lloyd: 3 assign/recompute rounds over 1e-6-scaled
      // integer vectors, k=8 — assignment is a fused long-L2 codegen
      // kernel against centroid literals (pure scan), recompute one k×dim
      // shuffle (Similarity.lloyd); all-integer arithmetic makes the trajectory
      // hash-exact vs the unrolled DuckDB oracle (the q52 rule applied to
      // the quantizer training s03/s08/s09/d11 previously stubbed with
      // lowest-id stand-ins)
      Similarity.kmeansTrain(Tables.embeddings(s, dir), "vec_id", "embedding",
        k = 8, iters = 3)
    },
    "s12_ann_ivf_trained" -> q { (s, dir) =>
      // the s11-trained quantizer actually CONSUMED: three exact-integer
      // Lloyd rounds fit the 8 coarse centroids, then the s03 IVF search
      // probes 4 of those trained cells per query. Training and serving
      // verify in ONE oracle (s11's unrolled iterations composed with
      // s03's probe/rerank), closing the lowest-id stand-in seam
      // end-to-end: the model that assigns cells is the model the search
      // trusts. The train phase's driver traffic is k×dim centroid ints
      // per round (a bounded model read, never data).
      val emb = Tables.embeddings(s, dir)
      val trained = Similarity.kmeansCentroidVectors(emb, "vec_id", "embedding",
        k = 8, iters = 3)
      Similarity.ivfTopK(emb, emb.where(col("vec_id") < 8), "vec_id", "embedding",
        k = 5, nCentroids = 8, nProbe = 4, trained = Some(trained))
    },
    "s10_ivfpq" -> q { (s, dir) =>
      // IVF-PQ: s03's coarse quantizer composed in front of s09's ADC
      // scoring — queries probe their 4 nearest of 16 cells and ADC-score
      // only those cells' coded vectors (s09 alone is PQ-flat: every code
      // scored per query); oracle restricts the same LUT arithmetic to the
      // probed cells
      val emb = Tables.embeddings(s, dir)
      Similarity.ivfPqSearch(emb, emb.where(col("vec_id") < 8), "vec_id", "embedding",
        dim = 64, k = 5)
    },
    "d11_semantic_dedup" -> q { (s, dir) =>
      // SemDeDup (Abbas et al. 2023): coarse-quantize the embedding space,
      // then keep-min-id within each cell at cos >= 0.35 — the semantic
      // near-dup prune a corpus runs alongside the text-level passes
      // (d01/d02); the cell-local pairwise scan bounds the quadratic cost
      // to the largest cell (see Dedup.semanticDedup scaladoc)
      Dedup.semanticDedup(Tables.embeddings(s, dir), "vec_id", "embedding",
        eps = 0.35, nCentroids = 32)
    },
    "d13_semantic_dedup_trained" -> q { (s, dir) =>
      // SemDeDup over the s11-TRAINED quantizer: the same cell-local
      // keep-min-id pass as d11, with the exact-integer Lloyd centroids in
      // place of the lowest-id stand-ins — the final stand-in consumer
      // closed (s12 did it for IVF search; this does it for the dedup
      // pipeline's quantizer). Training and pruning verify in ONE oracle:
      // the SQL re-runs the three Lloyd rounds and the cell-local prune.
      val emb = Tables.embeddings(s, dir)
      val trained = Similarity.kmeansCentroidVectors(emb, "vec_id", "embedding",
        k = 8, iters = 3)
      Dedup.semanticDedup(emb, "vec_id", "embedding", eps = 0.35,
        trained = Some(trained))
    },
    "d14_semantic_dedup_scaled" -> q { (s, dir) =>
      // production-k SemDeDup: k = max(16, N/125) — the IVF sizing rule
      // (s03/s10) applied to the dedup quantizer, so cells stay ~125
      // vectors and the cell-local cost scales LINEARLY with N. The
      // quantizer is a TWO-LEVEL fused-kernel argmax (coarse √k group
      // leaders, then the chosen group's cells): flat N·k assignment is
      // N²/125 cosines when k ∝ N — measured ~100×/decade at sf10 —
      // while two-level is N·2√k, restoring a row-linear decade ratio.
      // Decade benches measure THIS configuration, closing the d11/d13
      // pinned-k caveat (their k is pinned for oracle stability, with
      // Σ|cell|² growing ~N²/k).
      Dedup.semanticDedupScaled(Tables.embeddings(s, dir), "vec_id", "embedding",
        eps = 0.35)
    },
    "d15_semantic_dedup_lloyd" -> q { (s, dir) =>
      // d14's production-k quantizer TRAINED: strided-by-id coverage init
      // + one exact-integer Lloyd round (the s11 recipe at k = max(16,
      // N/125)) before the two-level assignment — the r14 negative result
      // isolated magnet-leader bias as d14's scale exposure (the
      // cell-local prune is quadratic in cell size), and r15 measured its
      // root as INIT COVERAGE: d14's lowest-id stand-ins leave one sf100
      // cell holding 61% of the corpus (Σ|cell|² 1.55e12); coverage init
      // + a Lloyd round read 3.78e10 (41× contained; the quantizer-cost
      // regimes are measured in Dedup.semanticDedupLloyd's scaladoc).
      // Training and pruning verify in ONE oracle (the d13/s12 pattern at
      // production k): the SQL re-runs the strided pick, the two-level
      // assignment, the integer centroid update, and the re-pick against
      // the float32 image of the updated integer state.
      Dedup.semanticDedupLloyd(Tables.embeddings(s, dir), "vec_id", "embedding",
        eps = 0.35)
    },
    "s05_range_search" -> q { (s, dir) =>
      // range (threshold) similarity search: all corpus vectors within
      // cos >= 0.35 of each query — banded corpus scan + broadcast banded
      // queries, corpus never shuffles; oracle is the brute-force scan,
      // which doubles as a 100%-recall assertion (d07's trick)
      val emb = Tables.embeddings(s, dir)
      Similarity.lshRangeSearch(emb, emb.where(col("vec_id") < 8), "vec_id", "embedding",
        minCosine = 0.35, dim = 64)
    },
    "d07_embed_neardup_lsh" -> q { (s, dir) =>
      // bucketed scale path: LSH band candidates + exact cosine re-rank;
      // same oracle as d05 — banding recall must be (and is) 1.0 here
      Dedup.embeddingNearDupBucketed(
        Tables.embeddings(s, dir), "vec_id", "embedding", minCosine = 0.35, dim = 64)
    },
    "q32_ship_priority" -> q { (s, dir) =>
      // TPC-H Q3 shape: selective dim filter broadcast into two fact scans,
      // one shuffle on the join key, deterministic top-10
      val cust = Tables.customer(s, dir)
        .where(col("c_mktsegment") === "BUILDING").select(col("c_custkey"))
      val ord = Tables.orders(s, dir)
        .where(col("o_orderdate") < lit("1998-01-01").cast("timestamp"))
        .select(col("o_orderkey"), col("o_custkey"), col("o_orderdate"))
      val li = Tables.lineitem(s, dir)
        .where(col("l_shipdate") > lit("1998-01-01").cast("timestamp"))
        .select(col("l_orderkey"),
          (c2(col("l_extendedprice")) * (lit(100L) - c2(col("l_discount")))).as("rev4"))
      li.join(ord.join(broadcast(cust), col("o_custkey") === col("c_custkey")),
          col("l_orderkey") === col("o_orderkey"))
        .groupBy(col("o_orderkey"), col("o_orderdate"))
        .agg(xsum(col("rev4")).as("rev4i"))
        // rank on the exact integer so the top-10 cutoff can't be decided
        // by double rounding
        .orderBy(col("rev4i").desc, col("o_orderkey").asc)
        .limit(10)
        .select(col("o_orderkey"), col("o_orderdate").cast("date").cast("string").as("o_date"),
          // centsOut (r18): the cents2 rounding minus its double cast
          (if (centsOut(s)) centsI(col("rev4i"), 4).as("revenue_c2")
           else cents2(col("rev4i"), 4).as("revenue")))
    },
    "q34_nation_trade" -> q { (s, dir) =>
      // TPC-H Q7 shape: bidirectional trade volume between a nation pair by
      // ship year. The nation filter is applied to the two SMALL dims
      // (supplier, customer) before they touch the facts, so the fact-fact
      // lineitem⋈orders join — the only genuinely big join — runs on
      // pre-pruned inputs; the shipdate range predicate pushes to the scan.
      val pair = Seq("NATION_1", "NATION_2")
      val n = Tables.nation(s, dir).where(col("n_name").isin(pair: _*))
      val supp = Tables.supplier(s, dir)
        .join(broadcast(n.select(col("n_nationkey").as("s_nk"), col("n_name").as("supp_nation"))),
          col("s_nationkey") === col("s_nk"))
        .select(col("s_suppkey"), col("supp_nation"))
      val cust = Tables.customer(s, dir)
        .join(broadcast(n.select(col("n_nationkey").as("c_nk"), col("n_name").as("cust_nation"))),
          col("c_nationkey") === col("c_nk"))
        .select(col("c_custkey"), col("cust_nation"))
      // volume sums as exact 1e-4-scaled integers (order-independent across
      // engines/partitionings — the q35 determinism rule)
      val li = Tables.lineitem(s, dir)
        .where(col("l_shipdate") >= lit("1995-01-01").cast("timestamp") &&
          col("l_shipdate") < lit("1997-01-01").cast("timestamp"))
        .select(col("l_orderkey"), col("l_suppkey"),
          year(col("l_shipdate")).cast("long").as("l_year"),
          graft.expressions.MoneyRound.scaledLong(col("l_extendedprice") * (lit(1.0) - col("l_discount")), 10000).as("vol4"))
      val ord = Tables.orders(s, dir).select(col("o_orderkey"), col("o_custkey"))
      li.join(broadcast(supp), col("l_suppkey") === col("s_suppkey"))
        .join(ord, col("l_orderkey") === col("o_orderkey"))
        .join(broadcast(cust), col("o_custkey") === col("c_custkey"))
        .where((col("supp_nation") === pair.head && col("cust_nation") === pair(1)) ||
          (col("supp_nation") === pair(1) && col("cust_nation") === pair.head))
        .groupBy(col("supp_nation"), col("cust_nation"), col("l_year"))
        .agg(
          // centsOut (r18): grouped_revenue cents escape — this class
          // crosses 2^53 near sf60 (nation-group worst at sf0.01 → ×6e3)
          (if (centsOut(s))
             centsI(xsum(col("vol4")), 4).as("revenue_c2")
           else
             (xsum(col("vol4")).cast("double") / 10000.0).as("revenue")),
          count(lit(1)).as("n_items"))
    },
    "q35_returned_items" -> q { (s, dir) =>
      // TPC-H Q10 shape, Spark-first: aggregate revenue per CUSTOMER KEY
      // before the customer join (the SQL formulation groups by every
      // customer attribute; pre-aggregating on the key shrinks the shuffle
      // to |custkeys| rows and turns the customer join into a post-agg
      // lookup), then deterministic top-20.
      val li = Tables.lineitem(s, dir)
        .where(col("l_returnflag") === "R")
        .select(col("l_orderkey"),
          (col("l_extendedprice") * (lit(1.0) - col("l_discount"))).as("rev"))
      val ord = Tables.orders(s, dir)
        .where(col("o_orderdate") >= lit("1996-01-01").cast("timestamp") &&
          col("o_orderdate") < lit("1996-04-01").cast("timestamp"))
        .select(col("o_orderkey"), col("o_custkey"))
      // revenue sums as exact 1e-4-scaled integers: a double sum is order-
      // dependent and a .xx5 boundary rounds differently between engines
      // (observed at sf0.01); the integer sum is associative, so the value
      // AND the top-20 ordering are engine-exact
      val byCust = li.join(ord, col("l_orderkey") === col("o_orderkey"))
        .groupBy(col("o_custkey"))
        .agg(xsum(graft.expressions.MoneyRound.scaledLong(col("rev"), 10000)).as("rev4"),
          count(lit(1)).as("n_items"))
      val cust = Tables.customer(s, dir)
        .join(broadcast(Tables.nation(s, dir)), col("c_nationkey") === col("n_nationkey"))
        .select(col("c_custkey"), col("c_name"), col("c_acctbal"), col("n_name"))
      byCust.join(cust, col("o_custkey") === col("c_custkey"))
        .orderBy(col("rev4").desc, col("c_custkey").asc)
        .limit(20)
        // no display rounding: the sum is exactly .xxxx, and round(x, 2) of
        // a true .xx5 midpoint disagrees between engines (Spark rounds the
        // shortest decimal repr, DuckDB the binary value); the division of
        // the same integer is bitwise identical on both sides.
        // centsOut (r18): per-customer revenue as HALF_UP BIGINT cents
        .select(col("c_custkey"), col("c_name"),
          (if (centsOut(s)) centsI(col("rev4"), 4).as("revenue_c2")
           else (col("rev4") / 10000.0).as("revenue")),
          col("c_acctbal"), col("n_name"), col("n_items"))
    },
    "q31_profile" -> q { (s, dir) =>
      // one-scan ingest profiling: null counts, key cardinalities, numeric
      // ranges — the admission gate before a slice enters the merge
      Profile.summary(
        Tables.events(s, dir),
        distinctCols = Seq("user_id", "event_type"),
        numericCols = Seq("value"))
    },
    "q30_incremental_agg" -> q { (s, dir) =>
      // incremental rollup maintenance: three slice folds must equal the
      // from-scratch aggregate (the oracle) — the no-rescan nightly-rollup
      // path at 100 TB
      // the folded state carries exact 1e-2-scaled integer sums: a double
      // state would drift with the FOLD ORDER on top of row order — the one
      // aggregate here that must be re-mergeable forever
      val ev = Tables.events(s, dir)
        .select(col("event_type"), c2(col("value")).as("v2"), col("ts_us"))
      val mid = CutUs - 86400000000L
      val slices = Seq(
        ev.where(col("ts_us") < mid),
        ev.where(col("ts_us") >= mid && col("ts_us") < CutUs),
        ev.where(col("ts_us") >= CutUs))
      val empty = s.createDataFrame(
        s.sparkContext.emptyRDD[org.apache.spark.sql.Row],
        org.apache.spark.sql.types.StructType.fromDDL(
          "event_type STRING, n_rows BIGINT, sum_v2 BIGINT"))
      val folded = slices.foldLeft(empty)((st, sl) =>
        MergeOps.foldAggState(st, sl, Seq("event_type"), Seq("v2")))
      // centsOut (r18): emit the 64-bit cents ledger DIRECTLY — the fold
      // state's BIGINT width IS the cents output contract (exact to 2^63
      // cents), so the escape here is dropping the double cast, nothing
      // else; the re-mergeable state schema is untouched.
      if (centsOut(s))
        folded.select(col("event_type"), col("n_rows"),
          col("sum_v2").as("sum_value_c2"))
      else
        folded.select(col("event_type"), col("n_rows"),
          round(col("sum_v2").cast("double") / lit(100.0), 2).as("sum_value"))
    },
    "d06_dedup_clusters" -> q { (s, dir) =>
      // pairs → transitive near-dup clusters: the decision step of a dedup
      // pipeline (keep min-id doc per component)
      val pairs = Dedup.embeddingNearDupBucketed(
        Tables.embeddings(s, dir), "vec_id", "embedding", minCosine = 0.35, dim = 64)
      Dedup.connectedComponents(pairs, "a", "b")
        .select(col("node_id").as("vec_id"), col("cluster_id"))
    },
    "d08_dedup_incremental" -> q { (s, dir) =>
      // incremental index maintenance: 10% of docs (id ≡ 9 mod 10, so the
      // split scales with SF) arrive as the new batch; only pairs touching
      // the batch are computed — the existing corpus is never self-joined
      val docs = Tables.documents(s, dir)
      Dedup.ngramJaccardDelta(
        docs.where(pmod(col("doc_id"), lit(10)) =!= 9),
        docs.where(pmod(col("doc_id"), lit(10)) === 9),
        "doc_id", "text")
    },
    "s04_cluster_centroids" -> q { (s, dir) =>
      // representative vectors for the d06 clusters: exact integer-scaled
      // centroid per (cluster, dim) — order/partitioning-independent
      val emb = Tables.embeddings(s, dir)
      val pairs = Dedup.embeddingNearDupBucketed(emb, "vec_id", "embedding", minCosine = 0.35, dim = 64)
      val clusters = Dedup.connectedComponents(pairs, "a", "b")
        .select(col("node_id").as("vec_id"), col("cluster_id"))
      Dedup.clusterCentroids(clusters, emb, "vec_id", "embedding")
    },
    "s01_ann_brute" -> q { (s, dir) =>
      val emb = Tables.embeddings(s, dir)
      Similarity.bruteForceTopK(emb, emb.where(col("vec_id") < 8), "vec_id", "embedding", k = 5)
    },
    "s02_ann_lsh" -> q { (s, dir) =>
      // 32 bands × 2 bits: recall@5 ≈ 1.0 on this corpus (RecallSpec
      // measures it) — this corpus has no planted structure, so true top-5
      // sit near cos 0.4 and recall needs narrow bands; widen on real corpora
      val emb = Tables.embeddings(s, dir)
      Similarity.lshTopK(emb, emb.where(col("vec_id") < 8), "vec_id", "embedding",
        k = 5, dim = 64, bits = 64, bandBits = 2)
    },
    "t01_langid" -> q { (s, dir) =>
      // one fused kernel pass per document (no explode, no shuffle): the
      // marker counts land in one array column and the argmax is a pure
      // projection — a 100 TB documents scan stays a scan
      import graft.expressions.TextKernels
      val langs = TextFns.langMarkers.map(_._1)
      val counted = Tables.documents(s, dir).select(
        col("doc_id"),
        TextKernels.langMarkerCounts(col("text"), TextFns.langMarkers.map(_._2)).as("_mc"))
      def score(i: Int) = element_at(col("_mc"), i + 1)
      val best = langs.indices.map(score).reduce((a, b) => greatest(a, b))
      val pred = langs.zipWithIndex.foldRight(lit("und")) { case ((lang, i), acc) =>
        when(score(i) === best && best > 0, lit(lang)).otherwise(acc)
      }
      counted.select(col("doc_id"), pred.as("pred_lang"))
    },
    "t02_quality" -> q { (s, dir) =>
      // token stats via one kernel pass (see t01); punctuation ratio stays
      // a native codegen'd regexp_count over the raw text
      import graft.expressions.TextKernels
      val st = Tables.documents(s, dir).select(
        col("doc_id"), col("text"),
        TextKernels.tokenStats(col("text"), TextFns.langMarkers.head._2).as("_st"))
      val nToks = element_at(col("_st"), 1)
      val lenSum = element_at(col("_st"), 2)
      val nStop = element_at(col("_st"), 3)
      st.select(
        col("doc_id"),
        nToks.as("n_tokens"),
        when(nToks > 0, rdiv(lenSum, nToks, 4)).otherwise(0.0)
          .as("mean_token_len"),
        when(length(col("text")) > 0,
          rdiv(regexp_count(col("text"), lit("[.,!?;:]")), length(col("text")), 4))
          .otherwise(0.0).as("punct_ratio"),
        when(nToks > 0, rdiv(nStop, nToks, 4)).otherwise(0.0)
          .as("stopword_ratio"))
    },
    "t03_tokens" -> q { (s, dir) =>
      Tables.documents(s, dir).select(
        col("doc_id"),
        size(TextFns.tokens(col("text"))).cast("long").as("ws_tokens"),
        regexp_count(lower(col("text")), lit("[a-z]+|[0-9]+|[^a-z0-9\\s]")).cast("long").as("subword_tokens"))
    },
    "t04_fingerprint" -> q { (s, dir) =>
      TextFns.withFingerprints(Tables.documents(s, dir), "text", k = 8, window = 4)
        .select(
          col("doc_id"),
          size(col("fp")).cast("long").as("n_fp"),
          array_min(col("fp")).as("fp_min"))
    },
    "t05_normalize" -> q { (s, dir) =>
      // pre-dedup corpus normalization: markup/URL/e-mail/control stripping,
      // case folding, whitespace collapse — one codegen'd regexp chain, the
      // canonical pass ahead of d01/d02's hashing (formatting noise must not
      // defeat dedup). The synthetic corpus is already clean, so here the
      // pass is identity-shaped; the adversarial forms live in TextFnsSpec.
      Tables.documents(s, dir).select(
        col("doc_id"),
        TextFns.normalize(col("text")).as("norm_text"),
        TextFns.noiseCount(col("text")).as("n_noise"),
        length(TextFns.normalize(col("text"))).cast("long").as("n_chars_norm"))
    },
    "q36_cheapest_supplier" -> q { (s, dir) =>
      // TPC-H Q2 shape on the available tables: per part, the supplier
      // quoting the lowest price (deterministic min-suppkey tie-break).
      // Grouped argmin = ONE shuffle with map-side partial min_by — no
      // window sort, no self-join back onto the facts (the textbook SQL
      // recomputes the min in a correlated subquery and re-joins; min_by
      // folds both into the same aggregate).
      val li = Tables.lineitem(s, dir)
        .select(col("l_partkey"), col("l_suppkey"), col("l_extendedprice"))
      val best = li.groupBy(col("l_partkey"))
        .agg(
          min_by(col("l_suppkey"), struct(col("l_extendedprice"), col("l_suppkey"))).as("best_suppkey"),
          min(col("l_extendedprice")).as("best_price"),
          count(lit(1)).as("n_quotes"))
      best
        .join(broadcast(Tables.part(s, dir).select(col("p_partkey"), col("p_brand"))),
          col("l_partkey") === col("p_partkey"))
        .join(broadcast(Tables.supplier(s, dir).select(col("s_suppkey"), col("s_name"))),
          col("best_suppkey") === col("s_suppkey"))
        .select(col("l_partkey").as("partkey"), col("p_brand"), col("s_name"),
          col("best_price"), col("n_quotes"))
    },
    "q40_market_share" -> q { (s, dir) =>
      // TPC-H Q8 shape: the target nation's share of ECONOMY-part revenue
      // inside the ASIA market, by order year. Every dim prunes BEFORE it
      // touches a fact and broadcasts (part filter, supplier→nation,
      // region→nation→customer), so the only genuinely big join is
      // lineitem⋈orders on orderkey. The share is a ratio of two exact
      // 1e-4-scaled integer sums — the one FP op is the final division,
      // identical across engines/partitionings (the q35 determinism rule).
      val target = "NATION_2"
      val n = Tables.nation(s, dir)
      val asiaNations = n
        .join(broadcast(Tables.region(s, dir).where(col("r_name") === "ASIA")),
          col("n_regionkey") === col("r_regionkey"))
        .select(col("n_nationkey").as("c_nk"))
      val custIn = Tables.customer(s, dir)
        .join(broadcast(asiaNations), col("c_nationkey") === col("c_nk"))
        .select(col("c_custkey"))
      val partF = Tables.part(s, dir).where(col("p_type") === "ECONOMY")
        .select(col("p_partkey"))
      val supp = Tables.supplier(s, dir)
        .join(broadcast(n.select(col("n_nationkey").as("s_nk"), col("n_name").as("supp_nation"))),
          col("s_nationkey") === col("s_nk"))
        .select(col("s_suppkey"), col("supp_nation"))
      val li = Tables.lineitem(s, dir)
        .select(col("l_orderkey"), col("l_partkey"), col("l_suppkey"),
          graft.expressions.MoneyRound.scaledLong(col("l_extendedprice") * (lit(1.0) - col("l_discount")), 10000).as("vol4"))
        .join(broadcast(partF), col("l_partkey") === col("p_partkey"))
        .join(broadcast(supp), col("l_suppkey") === col("s_suppkey"))
      val ord = Tables.orders(s, dir)
        .select(col("o_orderkey"), col("o_custkey"),
          year(col("o_orderdate")).cast("long").as("o_year"))
        .join(broadcast(custIn), col("o_custkey") === col("c_custkey"))
      li.join(ord, col("l_orderkey") === col("o_orderkey"))
        .groupBy(col("o_year"))
        .agg(
          xsum(when(col("supp_nation") === target, col("vol4")).otherwise(0L)).as("t4"),
          xsum(col("vol4")).as("a4"))
        .select(col("o_year"),
          // mkt_share is rdiv-exact in every mode; only the revenue CAST
          // carries 2^53 exposure (grouped_revenue row: ~sf19 crossing)
          rdiv(col("t4"), col("a4"), 6).as("mkt_share"),
          (if (centsOut(s)) centsI(col("a4"), 4).as("total_revenue_c2")
           else (col("a4").cast("double") / 10000.0).as("total_revenue")))
    },
    "q41_product_profit" -> q { (s, dir) =>
      // TPC-H Q9 shape: profit by supplier nation × order year for a part
      // family (p_name LIKE '%bolt%'). The testdata has no partsupp table,
      // so supply cost is modeled as 10% of p_retailprice — the join/agg
      // shape Q9 exercises is unchanged. The selective part filter prunes
      // lineitem via a broadcast semi-shaped join BEFORE the fact-fact
      // orders join; profit sums are exact 1e-4-scaled integers.
      val partF = Tables.part(s, dir).where(col("p_name").like("%bolt%"))
        .select(col("p_partkey"), col("p_retailprice"))
      val supp = Tables.supplier(s, dir)
        .join(broadcast(Tables.nation(s, dir)
            .select(col("n_nationkey").as("s_nk"), col("n_name").as("nation"))),
          col("s_nationkey") === col("s_nk"))
        .select(col("s_suppkey"), col("nation"))
      val li = Tables.lineitem(s, dir)
        .join(broadcast(partF), col("l_partkey") === col("p_partkey"))
        .join(broadcast(supp), col("l_suppkey") === col("s_suppkey"))
        .select(col("l_orderkey"), col("nation"),
          graft.expressions.MoneyRound.scaledLong(
            col("l_extendedprice") * (lit(1.0) - col("l_discount")) -
            lit(0.1) * col("p_retailprice") * col("l_quantity"), 10000).as("profit4"))
      li.join(Tables.orders(s, dir)
            .select(col("o_orderkey"), year(col("o_orderdate")).cast("long").as("o_year")),
          col("l_orderkey") === col("o_orderkey"))
        .groupBy(col("nation"), col("o_year"))
        .agg(
          // centsOut (r18): profit can be NEGATIVE — the sign-symmetric
          // centsIS (HALF_UP away from zero on both engines)
          (if (centsOut(s))
             centsIS(xsum(col("profit4")), 4).as("profit_c2")
           else
             (xsum(col("profit4")).cast("double") / 10000.0).as("profit")),
          count(lit(1)).as("n_items"))
    },
    "q42_cust_order_dist" -> q { (s, dir) =>
      // TPC-H Q13 shape: distribution of customers by order count, zero
      // bucket included. Orders pre-aggregate to one row per custkey BELOW
      // the customer join (the q35 rule — the join carries |custkeys| rows,
      // not |orders|); the left join keeps order-less customers and the
      // final histogram groupBy is tiny.
      val perCust = Tables.orders(s, dir)
        .where(col("o_orderstatus") =!= "F")
        .groupBy(col("o_custkey")).agg(count(lit(1)).as("n"))
      Tables.customer(s, dir).select(col("c_custkey"))
        .join(perCust, col("c_custkey") === col("o_custkey"), "left")
        .select(coalesce(col("n"), lit(0L)).as("c_orders"))
        .groupBy(col("c_orders")).agg(count(lit(1)).as("custdist"))
    },
    "q43_idle_customers" -> q { (s, dir) =>
      // TPC-H Q22 shape: above-average-balance customers with no RECENT
      // order (lapsed since 1999 — plain "never ordered" is the empty set
      // in this data), rolled up by market segment. The global mean is ONE
      // scalar broadcast (not the textbook correlated re-scan); the
      // recency test is a left-anti join against distinct recent custkeys
      // with the date predicate pushed to the orders scan. The
      // above-average cut compares scaled-integer balances cross-multiplied
      // against (sum, count) — zero FP in the filter, so the kept set is
      // bit-identical across engines (a double avg is order-dependent).
      val cust = Tables.customer(s, dir)
      val bal2 = graft.expressions.MoneyRound.scaledLong(col("c_acctbal"), 100)
      val stats = cust.where(col("c_acctbal") > 0.0)
        .agg(sum(bal2).as("sum2"), count(lit(1)).as("n_pos"))
      val recent = Tables.orders(s, dir)
        .where(col("o_orderdate") >= lit("1999-01-01").cast("timestamp"))
        .select(col("o_custkey")).distinct()
      cust.join(broadcast(stats))
        .where(bal2 * col("n_pos") > col("sum2"))
        .join(recent, col("c_custkey") === col("o_custkey"), "left_anti")
        .groupBy(col("c_mktsegment"))
        .agg(count(lit(1)).as("n_cust"),
          // centsOut (r18): segment balances as BIGINT cents, no division
          (if (centsOut(s))
             xsum(bal2).cast("long").as("total_bal_c2")
           else (sum(bal2).cast("double") / 100.0).as("total_bal")))
    },
    "q44_rolling_metrics" -> q { (s, dir) =>
      // trailing-24h per-user metrics over the event stream: a RANGE window
      // frame in event-time micros — the freshness/rate surface an
      // incremental importer exposes per entity (reference's row-age
      // metrics, generalized to a sliding horizon). One shuffle + one sort
      // (the window); the frame sum is an exact 1e-2-scaled integer, so
      // sliding-window accumulation order can't skew it. RANGE (not ROWS)
      // makes ts ties frame-identical across engines.
      val ev = Tables.events(s, dir).select(col("user_id"), col("event_id"),
        col("ts_us"), graft.expressions.MoneyRound.scaledLong(col("value"), 100).as("v2"))
      val w = Window.partitionBy(col("user_id")).orderBy(col("ts_us"))
        .rangeBetween(-86400000000L, 0L)
      // centsOut (r18): frame sum as BIGINT cents (exact window accumulate,
      // the q77 rule) instead of the 2^53-bounded double cast
      if (centsOut(s))
        ev.select(col("user_id"), col("event_id"), col("ts_us"),
          count(lit(1)).over(w).as("n_24h"),
          xsum(col("v2")).over(w).cast("long").as("sum_value_24h_c2"))
      else
        ev.select(col("user_id"), col("event_id"), col("ts_us"),
          count(lit(1)).over(w).as("n_24h"),
          (sum(col("v2")).over(w).cast("double") / 100.0).as("sum_value_24h"))
    },
    "q45_funnel" -> q { (s, dir) =>
      // signup → click → purchase conversion funnel: per user, the stage
      // reached under min-event-time ordering, then one tiny histogram.
      // ONE shuffle total — the three per-stage first-times are conditional
      // min aggregates in a single groupBy pass (no per-stage self-joins,
      // no window sort), and stage logic is pure column arithmetic on the
      // aggregated row.
      val ev = Tables.events(s, dir)
      val perUser = ev.groupBy(col("user_id")).agg(
        min(when(col("event_type") === "signup", col("ts_us"))).as("t_signup"),
        min(when(col("event_type") === "click", col("ts_us"))).as("t_click"),
        min(when(col("event_type") === "purchase", col("ts_us"))).as("t_purchase"))
      perUser.select(
        when(col("t_signup").isNull, 0L)
          .when(col("t_click").isNull || col("t_click") <= col("t_signup"), 1L)
          .when(col("t_purchase").isNull || col("t_purchase") <= col("t_click"), 2L)
          .otherwise(3L).as("stage"))
        .groupBy(col("stage")).agg(count(lit(1)).as("n_users"))
    },
    "t13_url_domains" -> q { (s, dir) =>
      // domain-level corpus statistics — the per-domain doc/url counts a
      // web corpus runs blocklist filtering and per-domain caps on
      // (C4/RefinedWeb-style curation). The synthetic corpus carries no
      // URLs, so deterministic URLs are injected from doc_id arithmetic
      // (the t10 trick) and the oracle re-derives the same injection;
      // extraction is the codegen regexp path (Java/RE2 common subset) —
      // one scan + one bounded groupBy (domains ≪ docs).
      val injected = Tables.documents(s, dir).select(col("doc_id"),
        concat(col("text"),
          when(pmod(col("doc_id"), lit(4)) < 3,
            concat(lit(" via https://site"), pmod(col("doc_id"), lit(7)).cast("string"),
              lit(".example"), pmod(col("doc_id"), lit(3)).cast("string"),
              lit(".com/p/"), pmod(col("doc_id"), lit(11)).cast("string")))
            .otherwise(lit("")),
          when(pmod(col("doc_id"), lit(8)) === 0,
            concat(lit(" and http://mirror"), pmod(col("doc_id"), lit(5)).cast("string"),
              lit(".example.org/q")))
            .otherwise(lit(""))).as("text"))
      injected
        .select(col("doc_id"),
          explode(regexp_extract_all(col("text"),
            lit("https?://([a-zA-Z0-9.-]+)"), lit(1))).as("domain"))
        .groupBy(col("domain"))
        .agg(count_distinct(col("doc_id")).as("n_docs"),
          count(lit(1)).as("n_urls"),
          min(col("doc_id")).as("first_doc"))
    },
    "q47_gap_fill" -> q { (s, dir) =>
      // per-user daily series with gap days materialized and values
      // forward-filled — the gap-fill/LOCF operator an incremental metrics
      // store needs when quiet windows produce no rows (the reference's
      // `.empty` marker files, seen from the analytics side). Day spans
      // re-aggregate the daily frame (Catalyst prunes that branch's scan
      // to just (user, ts)); `sequence`+explode generates each user's
      // calendar distributed-side (rows ∝ output, no driver loop), and the
      // fill is one last(ignoreNulls) running window — every stage keyed
      // by user, so at scale this is co-keyed shuffles + one sort.
      // centsOut (r18): the daily sum accumulates exactly and the LOCF carries
      // cents to a BIGINT output — the 2^53 cast escape, in place
      val cents = centsOut(s)
      val v2 = graft.expressions.MoneyRound.scaledLong(col("value"), 100)
      val daily = Tables.events(s, dir)
        .groupBy(col("user_id"), expr("ts_us div 86400000000").as("day"))
        .agg(count(lit(1)).as("n_events"), (if (cents) xsum(v2) else sum(v2)).as("v2"))
      val spans = daily.groupBy(col("user_id"))
        .agg(min(col("day")).as("d0"), max(col("day")).as("d1"))
      val allDays = spans.select(col("user_id"),
        explode(sequence(col("d0"), col("d1"))).as("day"))
      val w = Window.partitionBy(col("user_id")).orderBy(col("day"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val filled = last(col("v2"), ignoreNulls = true).over(w)
      allDays.join(daily, Seq("user_id", "day"), "left")
        .select(col("user_id"), col("day").as("day_idx"),
          coalesce(col("n_events"), lit(0L)).as("n_events"),
          (if (cents) filled.cast("long").as("filled_value_c2")
           else (filled.cast("double") / 100.0).as("filled_value")))
    },
    "q48_revenue_forecast" -> q((s, dir) =>
      revenueForecast(s, dir, centsOut(s))),
    "q49_promo_share" -> q((s, dir) =>
      promoShare(s, dir, centsOut(s))),
    "q50_rolling_active" -> q { (s, dir) =>
      // DAU / rolling-7-day WAU: count-DISTINCT over a sliding window has
      // no incremental form, so each distinct user-day is exploded onto the
      // 7 window-end days it contributes to (a constant-factor fan-out) and
      // every window becomes an ordinary distinct+count — the standard
      // rebase of rolling distinct onto set-free aggregation. Shuffles
      // carry ≤7× distinct user-days (bounded by users × days), never raw
      // events; only observed days are reported.
      val ud = Tables.events(s, dir)
        .select(col("user_id"), expr("ts_us div 86400000000").as("day")).distinct()
      val cover = ud
        .select(col("user_id"), explode(sequence(col("day"), col("day") + 6)).as("wday"))
        .distinct()
      val days = ud.select(col("day")).distinct()
      val wau = days.join(cover, col("day") === col("wday"))
        .groupBy(col("day")).agg(count(lit(1)).as("wau"))
      val dau = ud.groupBy(col("day").as("d2")).agg(count(lit(1)).as("dau"))
      wau.join(dau, col("day") === col("d2"))
        .select(col("day").as("day_idx"), col("dau"), col("wau"))
    },
    "q53_small_order_revenue" -> q { (s, dir) =>
      // TPC-H Q17 shape: revenue locked in below-average-quantity orders of
      // a brand's parts. The textbook correlated per-part avg subquery
      // becomes ONE grouped (sum, count) pass joined back by partkey; the
      // below-avg cut is integer cross-multiplication on 1e2-scaled
      // quantities (q < avg/5 ⟺ 5·q·cnt < sum) — zero FP in the filter.
      val li = Tables.lineitem(s, dir).select(col("l_partkey"),
        graft.expressions.MoneyRound.scaledLong(col("l_quantity"), 100).as("q2"),
        graft.expressions.MoneyRound.scaledLong(col("l_extendedprice"), 100).as("p2"))
      val brandParts = Tables.part(s, dir)
        .where(col("p_brand") === "Brand#1")
        .select(col("p_partkey").as("l_partkey"))
      // the per-part (sum, count) is scoped to the brand's partkeys BEFORE
      // aggregating (broadcast semi-join on the scan side): only ~1/|brands|
      // of lineitem enters the groupBy, and the brand-restricted per-part
      // stats are small enough to broadcast back — the correlated-subquery
      // scope of TPC-H Q17, not a lineitem-wide aggregate
      val liBrand = li.join(broadcast(brandParts), Seq("l_partkey"), "left_semi")
      val perPart = liBrand.groupBy(col("l_partkey"))
        .agg(xsum(col("q2")).as("sumq2"), count(lit(1)).as("cnt"))
      val filtered = liBrand.join(broadcast(perPart), Seq("l_partkey"))
        .where(lit(5L) * col("q2") * col("cnt") < col("sumq2"))
      // centsOut (r18): p2 is already cents — the escape is the exact sum
      // cast straight to BIGINT, no division (the q77 sum_base_price rule)
      if (centsOut(s))
        filtered.agg(xsum(col("p2")).cast("long").as("below_avg_revenue_c2"),
          count(lit(1)).as("n_items"))
      else
        filtered.agg((xsum(col("p2")).cast("double") / 100.0).as("below_avg_revenue"),
          count(lit(1)).as("n_items"))
    },
    "q54_large_orders" -> q { (s, dir) =>
      // TPC-H Q18 shape: customers behind the largest orders. Order totals
      // pre-aggregate on orderkey BELOW every join (the q35 rule); the
      // quantity gate is an exact scaled-integer HAVING; top-20 is a
      // bounded TakeOrdered, never a global sort.
      val big = Tables.lineitem(s, dir)
        .select(col("l_orderkey"), graft.expressions.MoneyRound.scaledLong(col("l_quantity"), 100).as("q2"))
        .groupBy(col("l_orderkey"))
        .agg(xsum(col("q2")).as("sumq2"), count(lit(1)).as("n_items"))
        .where(col("sumq2") > 20000L)
      // centsOut (r18): qty is already 1e-2-scaled — BIGINT direct; the
      // sort key is the same exact integer either way
      val qtyOut =
        if (centsOut(s)) col("sumq2").cast("long").as("total_qty_c2")
        else (col("sumq2").cast("double") / 100.0).as("total_qty")
      big.join(Tables.orders(s, dir).select(col("o_orderkey"), col("o_custkey")),
          col("l_orderkey") === col("o_orderkey"))
        .join(broadcast(Tables.customer(s, dir).select(col("c_custkey"), col("c_name"))),
          col("o_custkey") === col("c_custkey"))
        .select(col("c_name"), col("o_custkey").as("custkey"), col("l_orderkey").as("orderkey"),
          qtyOut, col("n_items"))
        .orderBy(col(if (centsOut(s)) "total_qty_c2" else "total_qty").desc, col("orderkey").asc)
        .limit(20)
    },
    "q55_disjunctive_revenue" -> q { (s, dir) =>
      // TPC-H Q19 shape: an OR-of-ANDs predicate spanning both join sides
      // (brand/size from part × quantity band from lineitem) — the case
      // where no single conjunct pushes to either scan alone; the part dim
      // still broadcasts and the disjunction evaluates post-join in one
      // codegen stage. Quantities compare as exact scaled integers.
      val li = Tables.lineitem(s, dir).select(col("l_partkey"),
        graft.expressions.MoneyRound.scaledLong(col("l_quantity"), 100).as("q2"),
        graft.expressions.MoneyRound
          .scaledLong(col("l_extendedprice") * (lit(1.0) - col("l_discount")), 10000).as("vol4"))
      val matched = li.join(broadcast(Tables.part(s, dir).select(col("p_partkey"), col("p_brand"), col("p_size"))),
          col("l_partkey") === col("p_partkey"))
        .where(
          (col("p_brand") === "Brand#1" && col("p_size").between(1, 10) &&
            col("q2").between(500L, 2000L)) ||
          (col("p_brand") === "Brand#2" && col("p_size").between(5, 20) &&
            col("q2").between(1000L, 3000L)) ||
          (col("p_brand") === "Brand#3" && col("p_size").between(10, 40) &&
            col("q2").between(2000L, 5000L)))
      // centsOut (r18): HALF_UP cents of the scale-4 volume sum as BIGINT
      if (centsOut(s))
        matched.agg(centsI(xsum(col("vol4")), 4).as("revenue_c2"),
          count(lit(1)).as("n_items"))
      else
        matched.agg((xsum(col("vol4")).cast("double") / 10000.0).as("revenue"),
          count(lit(1)).as("n_items"))
    },
    "q56_top_supplier" -> q { (s, dir) =>
      // TPC-H Q15 shape: the quarter's top-revenue supplier(s). The
      // textbook view-with-correlated-max becomes one grouped sum + ONE
      // scalar max broadcast back; the equality filter compares exact
      // scaled integers, so ties are found exactly — no window sort, no
      // re-aggregation.
      // the per-supplier aggregate is materialized ONCE (localCheckpoint —
      // the d11/s09 materialize-before-fan-out rule) because it feeds both
      // the scalar max and the equality filter; without the pin, nothing
      // guarantees ReuseExchange and the lineitem scan+agg can run twice
      val rev = Tables.lineitem(s, dir)
        .where(col("l_shipdate") >= lit("1996-01-01").cast("timestamp") &&
          col("l_shipdate") < lit("1996-04-01").cast("timestamp"))
        .select(col("l_suppkey"),
          graft.expressions.MoneyRound
            .scaledLong(col("l_extendedprice") * (lit(1.0) - col("l_discount")), 10000).as("vol4"))
        .groupBy(col("l_suppkey")).agg(xsum(col("vol4")).as("rev4"))
        .localCheckpoint(true)
      rev.join(broadcast(rev.agg(max(col("rev4")).as("mx4"))))
        .where(col("rev4") === col("mx4"))
        .join(broadcast(Tables.supplier(s, dir).select(col("s_suppkey"), col("s_name"))),
          col("l_suppkey") === col("s_suppkey"))
        .select(col("s_name"), col("l_suppkey").as("suppkey"),
          // centsOut (r18): the max/tie logic stays on the exact integer;
          // only the output cast swaps for HALF_UP BIGINT cents
          (if (centsOut(s)) centsI(col("rev4"), 4).as("total_revenue_c2")
           else (col("rev4").cast("double") / 10000.0).as("total_revenue")))
    },
    "q58_event_pivot" -> q { (s, dir) =>
      // per-user event-type activity matrix — the pivot surface. EXPLICIT
      // pivot values keep the output schema static (value discovery at
      // 100 TB would be its own distinct scan + two-pass plan); with them,
      // pivot compiles to the same single-shuffle conditional aggregation
      // the oracle writes longhand.
      Tables.events(s, dir)
        .groupBy(col("user_id"))
        .pivot("event_type", Seq("click", "error", "purchase", "signup", "view"))
        .agg(count(lit(1)))
        .na.fill(0L)
    },
    "q59_cube_volume" -> q { (s, dir) =>
      // the full grouping-sets lattice over (brand, ship year) — q18's
      // rollup generalized to all 2^k subtotal combinations, still ONE
      // aggregation pass with map-side partials (Spark expands grouping
      // sets without rescanning); subtotal rows surface as explicit 'ALL'
      // labels, quantities as exact scaled integers.
      val li = Tables.lineitem(s, dir)
        .join(broadcast(Tables.part(s, dir).select(col("p_partkey"), col("p_brand"))),
          col("l_partkey") === col("p_partkey"))
        .select(col("p_brand"), year(col("l_shipdate")).cast("long").as("l_year"),
          graft.expressions.MoneyRound.scaledLong(col("l_quantity"), 100).as("q2"))
      li.cube(col("p_brand"), col("l_year"))
        .agg(count(lit(1)).as("n_items"),
          // centsOut (r18): the global cube cell is the whole-table qty
          // sum — BIGINT direct in cents mode (cast_double:qty row)
          (if (centsOut(s))
             xsum(col("q2")).cast("long").as("total_qty_c2")
           else (sum(col("q2")).cast("double") / 100.0).as("total_qty")))
        .select(coalesce(col("p_brand"), lit("ALL")).as("brand"),
          coalesce(col("l_year").cast("string"), lit("ALL")).as("year"),
          col("n_items"), col(if (centsOut(s)) "total_qty_c2" else "total_qty"))
    },
    "q46_retention_cohorts" -> q { (s, dir) =>
      // signup-cohort retention matrix: users bucketed by signup week,
      // activity counted per (cohort_week, week_offset) — the event-stream
      // analytics surface over a synced entity store. Cohort = ONE
      // conditional-min groupBy (no "first event" self-join); activity
      // distinct-reduces (user, week) with map-side partials BEFORE the
      // user-keyed join, so the join carries user-weeks, not raw events.
      // Week bucketing is integer division of epoch micros — exact in both
      // engines (positive timestamps, truncating division).
      val ev = Tables.events(s, dir).select(col("user_id"), col("ts_us"), col("event_type"))
      val cohort = ev.where(col("event_type") === "signup")
        .groupBy(col("user_id")).agg(min(col("ts_us")).as("t0"))
        .select(col("user_id"), expr("t0 div 604800000000").as("w0"))
      val activity = ev
        .select(col("user_id"), expr("ts_us div 604800000000").as("w")).distinct()
      cohort.join(activity, "user_id")
        .where(col("w") >= col("w0"))
        .groupBy(col("w0").as("cohort_week"), (col("w") - col("w0")).as("week_offset"))
        .agg(count(lit(1)).as("n_active"))
    },
    "t14_mixture_sample" -> q { (s, dir) =>
      // training-mixture rebalancing: per-source quotas proportional to
      // target weights (derived here from the source index: 10/20/30/40),
      // bounded by the scarcest source — the data-mixing pass between
      // curation (t11) and packing (t12); all-integer quota arithmetic
      // 2-arg substring (position → end of string) on BOTH engines — a
      // length bound on only one side would diverge on long source names
      val wt = (expr("substring(source, 4)").cast("long") % 4) * 10 + 10
      Sampling.mixtureSample(Tables.documents(s, dir), "source", wt, "doc_id")
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_kept"), sum(col("n_chars")).as("sum_chars_kept"))
    },
    "t16_vocab_top" -> q { (s, dir) =>
      // corpus vocabulary head: top-20 tokens by frequency — the first
      // statistic a tokenizer-training run materializes. Explode + ONE
      // count shuffle with map-side partials + bounded TakeOrdered (never
      // a global sort); ties break lexicographically so the cut is
      // deterministic.
      Tables.documents(s, dir)
        .select(explode(TextFns.tokens(col("text"))).as("tok"))
        .groupBy(col("tok")).agg(count(lit(1)).as("cnt"))
        .orderBy(col("cnt").desc, col("tok").asc)
        .limit(20)
    },
    "t15_chunk_plan" -> q { (s, dir) =>
      // sliding-window chunk planning (size 128, stride 96 → 32-token
      // overlap): the long-document split every pretraining/RAG pipeline
      // runs before embedding or packing. Token counts come from the t03
      // kernel; chunk spans are pure integer arithmetic exploded
      // distributed-side (rows ∝ chunks, no driver loop), zero shuffles —
      // a scan in, a scan out.
      val size = 128L
      val stride = 96L
      val toks = Tables.documents(s, dir).select(col("doc_id"),
        org.apache.spark.sql.functions.size(TextFns.tokens(col("text"))).cast("long").as("n_tok"))
      toks.select(col("doc_id"), col("n_tok"),
          when(col("n_tok") <= size, lit(1L))
            .otherwise(lit(1L) + expr(s"(n_tok - $size + ${stride - 1}) div $stride"))
            .as("n_chunks"))
        .select(col("doc_id"), col("n_tok"),
          explode(sequence(lit(0L), col("n_chunks") - 1)).as("chunk_idx"))
        .select(col("doc_id"), col("chunk_idx"),
          (col("chunk_idx") * stride).as("start_tok"),
          least(lit(size), col("n_tok") - col("chunk_idx") * stride).as("n_tok_chunk"))
    },
    "t06_stratified_sample" -> q { (s, dir) =>
      // corpus rebalancing: downsample the dominant language, keep the rest
      // — deterministic scan filter, no shuffle (see Sampling.scaladoc for
      // the hash-selector production variant; the raw key keeps the oracle
      // exact)
      val d = Tables.documents(s, dir)
      Sampling.stratifiedSample(d, col("lang"), col("doc_id"),
          ratePercent = Map("en" -> 30), defaultPercent = 100)
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("n_docs"), sum(col("n_chars")).as("sum_chars"))
    },
    "t07_cap_per_source" -> q { (s, dir) =>
      // representative selection: at most 25 docs per (source, lang),
      // first-by-id — WindowGroupLimit bounds the shuffle to k rows/group
      Sampling.capPerGroup(
          Tables.documents(s, dir).select(col("doc_id"), col("source"), col("lang"), col("n_chars")),
          Seq(col("source"), col("lang")), Seq(col("doc_id").asc), k = 25)
        .groupBy(col("source"), col("lang"))
        .agg(count(lit(1)).as("n_kept"), max(col("doc_id")).as("max_kept_id"))
    },
    "m06_frame_phash" -> q { (s, dir) =>
      // per-frame average-hash fingerprints from the REAL RAWM decode —
      // the multimodal near-dup fingerprint (exact integer aHash:
      // pix*n > sum, bit per sample); oracle recomputes every bit from the
      // generator's closed-form pixel model
      Multimodal.frameFingerprints(s, Multimodal.syntheticRawMedia(s, 600))
        .select(col("media_id"), col("frame_idx"), col("fingerprint"))
    },
    "m07_frame_neardup" -> q { (s, dir) =>
      // multimodal near-dup END-TO-END: m06's per-frame average-hashes →
      // d03's 4×16-bit chunk banding (pigeonhole-exact for hamming ≤ 3) →
      // frame pairs, with the SUB-WIDTH QUARANTINE in the plan (see
      // Multimodal.phashNearDupPairs: short payloads band separately via
      // |quarantine|-bounded broadcast paths, so padding zero chunks can
      // never form a hot bucket; the three pair paths partition the pair
      // space, so the all-pairs oracle is unchanged). The dedup machinery
      // applied to the decoded-media fingerprint — the crossover that
      // makes the multimodal columns first-class dedup citizens. The
      // oracle re-derives EVERY fingerprint bit from the generator model,
      // then all-pairs hamming.
      val fps = Multimodal.frameFingerprints(s, Multimodal.syntheticRawMedia(s, 600))
        .select((col("media_id") * 256 + col("frame_idx")).as("id"),
          col("fingerprint"), col("width"))
      Multimodal.phashNearDupPairs(fps, "id", "fingerprint", "width")
        .select(expr("a div 256").as("a_media"), expr("a % 256").as("a_frame"),
          expr("b div 256").as("b_media"), expr("b % 256").as("b_frame"),
          col("hamming"))
    },
    "m01_multimodal" -> q { (s, dir) =>
      val media = Multimodal.syntheticMedia(Tables.documents(s, dir), "doc_id", "text")
      Multimodal.featureStats(Multimodal.decodeFeatures(s, media))
    },
    "m02_frame_sample" -> q { (s, dir) =>
      // frame sampling over REAL decode: the frame count comes from parsing
      // the RAWM payload, and the oracle re-derives it from the generator's
      // arithmetic — bytes → decode → frames must equal the model
      val media = Multimodal.syntheticRawMedia(s, 600)
      Multimodal.sampleFrames(Multimodal.decodeRawFeatures(s, media), stride = 2)
        .groupBy(col("media_id"))
        .agg(max(col("n_frames")).cast("long").as("n_frames"), count(lit(1)).as("n_sampled"))
    },
    "t12_sequence_pack" -> q { (s, dir) =>
      // pretraining sequence packing: per-source greedy fill into
      // 512-token packs (whitespace tokens as the stand-in tokenizer),
      // summarized per pack — doc membership is pure integer window
      // arithmetic, so the oracle reproduces it exactly
      val toks = Tables.documents(s, dir).select(
        col("doc_id"), col("source"),
        size(TextFns.tokens(col("text"))).cast("long").as("n_tokens"))
      Sampling.packSequences(toks, "source", "doc_id", "n_tokens", budget = 512L)
        .groupBy(col("source"), col("pack_id"))
        .agg(count(lit(1)).as("n_docs"), sum(col("n_tokens")).as("pack_tokens"),
          min(col("doc_id")).as("first_doc"), max(col("doc_id")).as("last_doc"))
    },
    "t11_curation" -> q { (s, dir) =>
      // END-TO-END corpus curation — the composed pipeline a training-data
      // user actually runs, each stage an operator oracle-proven alone:
      // normalize (t05) → min-token quality gate (t03) → exact dedup
      // keeping the lowest-id canonical per normalized text (d01) →
      // deterministic per-language downsample (t06). Plan: one scan pass
      // for normalize+gate+tokens, ONE shuffle for the dedup argmin, and
      // the sample filter applies above it — nothing else moves.
      val toks = Tables.documents(s, dir)
        .select(col("doc_id"), col("lang"), TextFns.normalize(col("text")).as("norm_text"))
        .select(col("doc_id"), col("lang"), col("norm_text"),
          size(TextFns.tokens(col("norm_text"))).cast("long").as("n_tokens"))
        .where(col("n_tokens") >= 5)
      // group on the 256-bit content hash, not the text: the dedup shuffle
      // moves 32 bytes per doc instead of the document (d01's trick) —
      // norm_text itself never crosses an exchange
      val canon = toks
        .groupBy(sha2(col("norm_text"), 256).as("_h"))
        .agg(min(struct(col("doc_id"), col("lang"), col("n_tokens"))).as("m"))
        .select(col("m.doc_id").as("doc_id"), col("m.lang").as("lang"),
          col("m.n_tokens").as("n_tokens"))
      Sampling.stratifiedSample(canon, col("lang"), col("doc_id"),
          ratePercent = Map("en" -> 30), defaultPercent = 100)
        .select(col("doc_id"), col("lang"), col("n_tokens"))
    },
    "t10_pii_redact" -> q { (s, dir) =>
      // PII scrubbing — the redaction pass a training corpus runs before
      // anything downstream sees the text. The synthetic corpus carries no
      // PII, so deterministic e-mails/phones/IPs are injected from doc_id
      // arithmetic (the m04 closed-form-generator trick): the oracle
      // re-derives the same injection, so the regex redaction itself is
      // what gets cross-checked. One codegen scan pass, no shuffle.
      val injected = Tables.documents(s, dir).select(
        col("doc_id"),
        concat(col("text"),
          when(pmod(col("doc_id"), lit(5)) === 0,
            concat(lit(" contact u"), col("doc_id").cast("string"), lit("@example.com now")))
          .when(pmod(col("doc_id"), lit(5)) === 1,
            concat(lit(" call 1-555-010-"),
              lpad(pmod(col("doc_id"), lit(100)).cast("string"), 2, "0"), lit(" today")))
          .when(pmod(col("doc_id"), lit(5)) === 2,
            concat(lit(" from 10.0."), pmod(col("doc_id"), lit(256)).cast("string"),
              lit("."), pmod(col("doc_id"), lit(100)).cast("string"), lit(" logged")))
          .otherwise(lit(""))).as("text"))
      val counts = TextFns.piiCounts(col("text"))
      injected.select(
        col("doc_id"),
        TextFns.redactPii(col("text")).as("clean_text"),
        counts("n_emails").as("n_emails"),
        counts("n_phones").as("n_phones"),
        counts("n_ips").as("n_ips"))
    },
    "t09_repetition" -> q { (s, dir) =>
      // Gopher-style repetition signals — the filters an LLM corpus applies
      // alongside quality scoring (t02): duplicate-token fraction and
      // top-token fraction per document. r18: one fused kernel pass (the
      // t01/t02 pattern) instead of explode + two groupBys — every token of
      // a document originates in that document's own row, so the per-doc
      // stats never needed the two token-string shuffles the explode
      // formulation paid (at 100 TB: two exchanges of O(tokens) strings →
      // zero). Kernel ≡ the explode form by TextFnsSpec equality test.
      //
      // The zero-token filter runs BELOW the kernel as its cheap exact
      // equivalent — explode() emits no row for a tokenless doc, and
      // n_tokens > 0 ⟺ text has a non-whitespace char: rlike("\\S") is
      // the SAME Java regex class the tokenizer splits on (ADVICE r18:
      // the former length(trim(text)) > 0 passed tab/newline-ONLY docs —
      // SQL trim strips 0x20 only — emitting an n_tokens = 0 row the
      // explode form never produced).
      // Filtering on the kernel output instead would let predicate
      // pushdown substitute the kernel INTO the scan filter and evaluate
      // it twice per row (the guide §4.4 duplication).
      val st = graft.expressions.TextKernels.repetitionStats(col("text"))
      Tables.documents(s, dir)
        .where(col("text").isNotNull && col("text").rlike("\\S"))
        .select(col("doc_id"), st.as("_st"))
        .select(col("doc_id"),
          element_at(col("_st"), 1).as("n_tokens"),
          element_at(col("_st"), 2).as("n_distinct"),
          element_at(col("_st"), 3).as("top_count"))
        .select(col("doc_id"), col("n_tokens"), col("n_distinct"),
          // 1 − d/n ≡ (n−d)/n exactly in the rationals, so the integer
          // form preserves the documented semantics while deciding ties
          rdiv(col("n_tokens") - col("n_distinct"), col("n_tokens"), 4).as("dup_token_frac"),
          rdiv(col("top_count"), col("n_tokens"), 4).as("top_token_frac"))
    },
    "t08_contamination" -> q { (s, dir) =>
      // eval-set contamination screening — the n-gram collision check a
      // training corpus runs before any benchmark evaluation: a document
      // sharing a k-token shingle with the eval set is flagged with the
      // collision count. Shingle hashing is the d02/d04 codegen kernel;
      // the eval side is tiny by construction, so its distinct shingle
      // hashes BROADCAST and the corpus never shuffles — at 100 TB this
      // is a pure scan + broadcast-hash-join + per-doc agg.
      import graft.expressions.HashExprs
      val k = 5
      val docs = Tables.documents(s, dir)
      val evalSet = docs.where(col("doc_id") < 20)
        .select(explode(HashExprs.tokenShingleHashes(col("text"), k)).as("sh"))
        .distinct()
      docs.where(col("doc_id") >= 20)
        .select(col("doc_id"), explode(HashExprs.tokenShingleHashes(col("text"), k)).as("sh"))
        .join(broadcast(evalSet), "sh")
        .groupBy(col("doc_id"))
        .agg(countDistinct(col("sh")).as("n_shared_shingles"))
    },
    "m05_audio_windows" -> q { (s, dir) =>
      // ASR-style framing plan (window 16, hop 8): only the payload LENGTH
      // is needed, so no decode runs — the payload bytes are never
      // inspected, exactly the metadata-only plan shape m03 uses. Full
      // windows only.
      Multimodal.syntheticRawMedia(s, 600)
        .where(col("kind") === "audio")
        .select(col("media_id"),
          (length(col("payload")) - Multimodal.HeaderLen).cast("long").as("n_samples"))
        .select(col("media_id"), col("n_samples"),
          greatest(lit(0L),
            (floor((col("n_samples") - 16) / 8) + 1).cast("long")).as("n_windows"))
    },
    "m04_raw_decode" -> q { (s, dir) =>
      // REAL decode: per-media pixel statistics computed from the payload
      // bytes (header parse + one pass over samples); the oracle computes
      // the same numbers from the generator's closed-form sample function
      Multimodal.decodeRawFeatures(s, Multimodal.syntheticRawMedia(s, 600))
        .select(col("media_id"), col("kind"), col("payload_bytes"),
          col("n_frames"), col("mean_sample"), col("min_sample"), col("max_sample"))
    },
    "m03_resize_plan" -> q { (s, dir) =>
      // metadata-only resize planning: payload bytes are never touched
      val media = Multimodal.syntheticMedia(Tables.documents(s, dir), "doc_id", "text")
      Multimodal.resizePlan(media, maxSide = 256)
    },
    "q20_json_struct" -> q { (s, dir) =>
      // typed JSONB cleaning (db.py:261-282): from_json into a struct schema,
      // then aggregate on the extracted field — the reference's array/json
      // columns (embeds, mentions) follow this exact path with array schemas
      import graft.expressions.PyLiteralJson.pyJsonNormalize
      Tables.events(s, dir)
        .select(from_json(pyJsonNormalize(col("props")),
          org.apache.spark.sql.types.StructType.fromDDL("k BIGINT")).as("p"))
        .groupBy(pmod(col("p.k"), lit(10)).as("k_bucket"))
        .agg(count(lit(1)).as("n"))
    },
    "t17_bloom_contamination" -> q { (s, dir) =>
      // t08's contamination screen with the broadcast made CONSTANT-SIZE:
      // the eval set folds into a 2^16-bit exact-integer Bloom filter
      // (mBits/64 = 1024 longs) instead of broadcasting its distinct
      // shingle hashes — at 100 TB an eval suite's shingle set can be GBs,
      // the filter stays KB-sized at any eval size (sized up by powers of
      // two as needed). Probe positions are a pure integer function of the
      // d02 shingle hash (Kirsch–Mitzenmacher double hashing), so the
      // flagged set INCLUDING false positives is engine-exact — the oracle
      // re-derives every bit. Corpus side: pure scan + broadcast word join
      // + bounded per-doc agg; the corpus never shuffles.
      import graft.expressions.HashExprs
      val k = 5
      val mBits = 1 << 16
      val docs = Tables.documents(s, dir)
      val evalHashes = docs.where(col("doc_id") < 20)
        .select(explode(HashExprs.tokenShingleHashes(col("text"), k)).as("h"))
      val corpus = docs.where(col("doc_id") >= 20)
        .select(col("doc_id"), explode(HashExprs.tokenShingleHashes(col("text"), k)).as("h"))
      Bloom.probeCount(corpus, Bloom.buildWords(evalHashes, mBits), "doc_id", mBits)
    },
    "q61_part_variety" -> q { (s, dir) =>
      // TPC-H Q16 shape — supplier variety per part attribute, excluding
      // flagged suppliers (Q16's NOT IN complaint subquery → broadcast
      // left-anti join). r19: the former DISTINCT (partkey, suppkey)
      // pre-pass is gone — with both dims BROADCAST the join never
      // shuffles lineitem, and countDistinct's own partial aggregate
      // dedups (brand, size, suppkey) map-side before its exchange, a
      // strictly SMALLER key set than the pair distinct shuffled (suppkey
      // counting ignores partkey, so the pair dedup never affected the
      // result — it was a volume reducer that cost one full extra
      // exchange + aggregate pass). 3 exchanges → 2; interleaved A/B at
      // sf0.1 wins every quiet pass (0.95 → 0.90 s min).
      val excl = Tables.supplier(s, dir)
        .where(col("s_acctbal") < 0).select(col("s_suppkey"))
      Tables.lineitem(s, dir)
        .select(col("l_partkey"), col("l_suppkey"))
        .join(broadcast(excl), col("l_suppkey") === col("s_suppkey"), "left_anti")
        .join(broadcast(Tables.part(s, dir)
          .select(col("p_partkey"), col("p_brand"), col("p_size"))),
          col("l_partkey") === col("p_partkey"))
        .groupBy(col("p_brand"), col("p_size").cast("long").as("p_size"))
        .agg(countDistinct(col("l_suppkey")).as("supplier_cnt"))
    },
    "q60_sole_shipper" -> q { (s, dir) =>
      // TPC-H Q21's shape — the multi-supplier EXISTS / sole-failer
      // NOT-EXISTS chain — mapped onto the testdata's dates: in every
      // order drawing on ≥2 suppliers, find the supplier that was the
      // SOLE latest shipper (its max ship date strictly beat every other
      // supplier's), then rank suppliers by how often they held the order
      // up. Q21's two correlated subqueries become two window frames over
      // ONE hash partitioning: lineitem pre-aggregates to per-(order,
      // supplier) maxima — the repartition(l_orderkey) ahead of it
      // satisfies the groupBy's clustering AND both windows', so the
      // whole chain runs on a single exchange (plan-asserted); the final
      // per-supplier count is a bounded TakeOrdered top-20, never a
      // global sort. Overflow audit (r14): nothing to widen here —
      // the aggregates are max/count only; a 64-bit COUNT wraps past
      // 9·10¹⁸ ROWS (exabytes), not at any monetary-sum ceiling.
      val perSup = Tables.lineitem(s, dir)
        .select(col("l_orderkey"), col("l_suppkey"),
          unix_millis(col("l_shipdate").cast("timestamp")).as("ship_ms"))
        .repartition(col("l_orderkey"))
        .groupBy(col("l_orderkey"), col("l_suppkey"))
        .agg(max(col("ship_ms")).as("s_mx"))
      val w = Window.partitionBy(col("l_orderkey"))
      perSup
        .withColumn("mx", max(col("s_mx")).over(w))
        .withColumn("nsup", count(lit(1)).over(w))
        .where(col("nsup") >= 2 && col("s_mx") === col("mx"))
        .withColumn("n_at_max", count(lit(1)).over(w))
        .where(col("n_at_max") === 1)
        .groupBy(col("l_suppkey"))
        .agg(count(lit(1)).as("n_orders"))
        .orderBy(col("n_orders").desc, col("l_suppkey").asc)
        .limit(20)
    },
    "q70_decile_bins" -> q { (s, dir) =>
      // equal-frequency binning (the feature-engineering quantile-bucket
      // pass): ntile(10) within each priority class — computed WITHOUT the
      // per-class window sort. `PARTITION BY class` with 5 classes is five
      // single-task external sorts of |orders|/5 each at 100 TB (VERDICT
      // r7): Binning.rankInClass range-partitions on (class, price, key)
      // and reconstructs the global per-class rank from range-chunk-local
      // ranks + broadcast count offsets, so the sort work spreads over the
      // full parallelism; the decile is then pure integer arithmetic on
      // (rn, n) — bit-identical to the oracle's ntile. The (price,
      // orderkey) tie key makes membership deterministic; per-bin stats in
      // exact scaled integers.
      val o = Tables.orders(s, dir)
        .select(col("o_orderpriority"), col("o_orderkey"), c2(col("o_totalprice")).as("price_c"))
      Binning.rankInClass(o, "o_orderpriority", "price_c", "o_orderkey")
        .withColumn("decile", Binning.ntileFromRank("rn", "n", 10))
        .groupBy(col("o_orderpriority"), col("decile"))
        .agg(count(lit(1)).as("n_orders"), min(col("price_c")).as("min_c"),
          max(col("price_c")).as("max_c"), sum(col("price_c")).as("sum_c"))
    },
    "q71_sketch_bins" -> q { (s, dir) =>
      // GLOBAL equal-frequency binning via sketch boundaries — the
      // cross-class complement of q70 (whose scaladoc sends global bins
      // here): a global ntile is a one-task global sort at 100 TB, so the
      // decile boundaries come from q65's deterministic bottom-k-by-hash
      // sample instead — `orderBy(unsigned h).limit(k)` is a bounded
      // TakeOrdered (map-side partial top-k, never a sort shuffle), the
      // boundary picks are q26's type-1 selections over the 256-row
      // sample (windows over the SAMPLE — statistics, not data), and bin
      // assignment is a pure codegen scan against the ONE broadcast
      // boundary row. Approximate bin sizes (±~n/√k), exact everything
      // else: the sample is a pure function of the row set (splitmix64 of
      // the unique order key), so boundaries, memberships and per-bin
      // stats are all engine-exact — an approximate operator with a
      // hash-exact oracle, the sketch-family contract.
      import graft.expressions.KmvSketch
      val k = 256
      val nBins = 10
      val o = Tables.orders(s, dir).select(
        c2(col("o_totalprice")).as("price_c"),
        KmvSketch.splitmix64(col("o_orderkey")).as("h"))
      val uh = col("h").bitwiseXOR(lit(Long.MinValue))
      val samp = o.orderBy(uh.asc).limit(k)
      val sq = samp
        .withColumn("rn", row_number().over(Window.orderBy(col("price_c").asc, uh.asc)).cast("long"))
        .withColumn("ns", count(lit(1)).over(Window.partitionBy()))
      // i/10.0 rounds ONCE to the same double DuckDB parses from "0.i"
      // (0.1*i would round twice and drift at i=3 — the s07 weight rule)
      val bCols = (1 until nBins).map(i =>
        max(when(col("rn") === ceil(col("ns") * lit(i / 10.0)), col("price_c"))).as(s"b$i"))
      val bounds = sq.agg(bCols.head, bCols.tail: _*)
      o.crossJoin(broadcast(bounds))
        .select(col("price_c"),
          (1 until nBins).map(i => when(col("price_c") >= col(s"b$i"), 1L).otherwise(0L))
            .reduce(_ + _).plus(lit(1L)).as("bin"))
        .groupBy(col("bin"))
        .agg(count(lit(1)).as("n_orders"), min(col("price_c")).as("min_c"),
          max(col("price_c")).as("max_c"), sum(col("price_c")).as("sum_c"))
    },
    "q68_nation_value" -> q { (s, dir) =>
      // TPC-H Q11 shape — one nation's stocked-part value distribution
      // with the scalar-subquery HAVING gate. partsupp value modeled from
      // shipped volume × retail price (the q41/q67 rule). The gate is
      // parts above 2× the MEAN share — scale-free where Q11's fixed
      // fraction is not (the TPC-H spec divides its 0.0001 by SF for the
      // same reason; a fixed fraction empties as |parts| grows — observed
      // at sf1). Scale shape: the nation's suppliers broadcast-prune
      // lineitem BEFORE the per-part aggregate; the (total, count) scalar
      // broadcasts back as ONE row; the gate is integer cross-
      // multiplication (value·n > 2·total, zero FP); value4 = 1e-4-scaled
      // exact integers throughout.
      val sups = broadcast(Tables.supplier(s, dir)
        .join(broadcast(Tables.nation(s, dir)
          .where(col("n_name") === "NATION_3").select(col("n_nationkey"))),
          col("s_nationkey") === col("n_nationkey"))
        .select(col("s_suppkey")))
      val li = Tables.lineitem(s, dir)
        .select(col("l_partkey"), col("l_suppkey"), c2(col("l_quantity")).as("q_c"))
        .join(sups, col("l_suppkey") === col("s_suppkey"))
      val perPart = li
        .join(broadcast(Tables.part(s, dir)
          .select(col("p_partkey"), c2(col("p_retailprice")).as("price_c"))),
          col("l_partkey") === col("p_partkey"))
        .groupBy(col("l_partkey"))
        .agg(sum(col("q_c") * col("price_c")).as("value4"))
      val total = perPart.agg(sum(col("value4")).as("total4"), count(lit(1)).as("n_parts"))
      // value4 stays a scaled integer in the OUTPUT too: value4/1e4 has 4
      // decimals, so round(·, 2) hits .xx5 ties that the two engines
      // resolve differently (the q35 gotcha) — emit the exact integer
      perPart.crossJoin(broadcast(total))
        .where(col("value4") * col("n_parts") > col("total4") * 2L)
        .select(col("l_partkey").as("p_partkey"), col("value4"))
    },
    "q72_nation_value_wide" -> q { (s, dir) =>
      // q68's documented WIDENING SWITCH, as code (SURVEY §4): the same
      // nation-value gate with every aggregate and the cross-multiplied
      // comparison in decimal(38,0) instead of 64-bit longs. The 64-bit
      // form's gate (value4·n_parts) crosses 10% of 2⁶³ near sf100 —
      // OverflowAudit detects that regime and trips Verify; THIS is the
      // escape it points at. decimal(38,0) sums are exact (so still
      // order-independent and hash-stable) and plan identically: the
      // partial/final aggregate split, broadcast pruning, and the one-row
      // broadcast gate all survive the type change — only the agg buffer
      // widens from 8 to 16 bytes, moving the AGGREGATE/GATE ceiling to
      // ~10²¹× any physical deployment. The OUTPUT stays BIGINT: per-part
      // value is bounded by the data model (one part's shipments × price,
      // nowhere near 2⁶³ at any SF that fits on hardware) — it is the
      // global total and the cross-multiplied gate that grow with corpus
      // size, and those now run wide. Oracle: DuckDB's sum is natively
      // HUGEINT, re-narrowed the same way.
      val sups = broadcast(Tables.supplier(s, dir)
        .join(broadcast(Tables.nation(s, dir)
          .where(col("n_name") === "NATION_3").select(col("n_nationkey"))),
          col("s_nationkey") === col("n_nationkey"))
        .select(col("s_suppkey")))
      val li = Tables.lineitem(s, dir)
        .select(col("l_partkey"), col("l_suppkey"), c2(col("l_quantity")).as("q_c"))
        .join(sups, col("l_suppkey") === col("s_suppkey"))
      val perPart = li
        .join(broadcast(Tables.part(s, dir)
          .select(col("p_partkey"), c2(col("p_retailprice")).as("price_c"))),
          col("l_partkey") === col("p_partkey"))
        .groupBy(col("l_partkey"))
        .agg(sum((col("q_c") * col("price_c")).cast("decimal(38,0)")).as("value38"))
      val total = perPart.agg(sum(col("value38")).cast("decimal(38,0)").as("total38"),
        count(lit(1)).as("n_parts"))
      perPart.crossJoin(broadcast(total))
        .where(col("value38") * col("n_parts").cast("decimal(38,0)") >
          col("total38") * lit(2).cast("decimal(38,0)"))
        .select(col("l_partkey").as("p_partkey"),
          col("value38").cast("long").as("value4"))
    },
    // q73–q76: aliases of q12/q16/q48/q49, kept registered (with their
    // oracles) from when those four summed in 64 bits by default and these
    // were the exact-sum forms.
    "q73_pricing_summary_wide" -> q((s, dir) =>
      pricingSummary(s, dir, centsOut(s))),
    "q74_brand_volume_wide" -> q((s, dir) =>
      brandVolume(s, dir, centsOut(s))),
    "q75_revenue_forecast_wide" -> q((s, dir) =>
      revenueForecast(s, dir, centsOut(s))),
    "q76_promo_share_wide" -> q((s, dir) =>
      promoShare(s, dir, centsOut(s))),
    // q77–q79: the INTEGER-CENTS escapes for the 2^53 cast-fidelity
    // boundary (OverflowAudit's `cast_double:cents2` row, ADVICE r15 /
    // VERDICT r16 task 1). The exact sum has no 64-bit ceiling, but the
    // final `.cast("double")/10^s` still rounds once the integer passes
    // 2^53 (~sf285 for q12's charge cents, measured 70% at sf200, fired
    // in anger at sf300) — drift, not garbage, and still hash-identical
    // cross-engine, but no longer the exact ledger amount. These forms
    // emit the HALF_UP cents themselves as BIGINT (exact until 2^63 cents
    // ≈ 9.2e16 dollars, ~10^3× the 2^53 line). One per
    // alarm-row family: q77 ← q12/q73 (pricing summary), q78 ← q13
    // (region revenue), q79 ← q16/q74 (brand volume). The engine-level
    // GRAFT_CENTS_OUT / spark.graft.centsOut switch routes the original
    // five members to these same output forms in place ([[centsOut]]).
    "q77_pricing_summary_cents" -> q(pricingSummary(_, _, cents = true)),
    "q78_region_revenue_cents" -> q(regionRevenue(_, _, cents = true)),
    "q79_brand_volume_cents" -> q(brandVolume(_, _, cents = true)),
    // q80/q81 (r18, VERDICT r17 item 3): the registered always-on cents
    // representatives for the OTHER two 2^53 rows — `cast_double:value_sums`
    // (q48/q75, plus q53/q55 routed in place) and `cast_double:event_value`
    // (q23, plus q11/q30/q44/q47 routed in place). The remaining members'
    // cents forms flip under the same GRAFT_CENTS_OUT switch and verify
    // against their own HUGEINT oracles via oracleSqlFor — one registered
    // escape per family proves the form cross-engine; the switch covers all.
    "q80_revenue_forecast_cents" -> q(revenueForecast(_, _, cents = true)),
    "q81_tumbling_daily_cents" -> q(tumblingDaily(_, _, cents = true)),
    "q69_kmv_intersection" -> q { (s, dir) =>
      // sketch set-algebra completed: INTERSECTION cardinality from two
      // persisted KMV states (Dasgupta et al.'s theta-sketch estimator —
      // the rollup answer to "how many users did BOTH X and Y" without
      // touching raw keys). θ = the union sketch's kth min; the estimate
      // counts common hashes inside the union's k-min set and rescales:
      // est = c·est_union/k (exact integer; c exact below fill). Every
      // term is a pure function of the two k-min SETS, so the whole
      // estimator — not a tolerance band — hash-matches the oracle.
      // Sketch-only output: the exact intersection (two distincts + a
      // key join — the full-shuffle cost the estimator replaces) moved to
      // KmvSketchSpec's accuracy check (VERDICT r7's q63 rule family-wide).
      import graft.expressions.KmvSketch
      val k = 64
      val ev = Tables.events(s, dir)
        .where(col("event_type").isin("click", "purchase"))
        .select(col("event_type"),
          KmvSketch.splitmix64(col("user_id")).as("h"))
      // materialized ONCE: the two-row states frame feeds THREE branches
      // (merge, ha, hb) — without the cut each branch re-runs the events
      // scan + sketch aggregation (3 scans for one query; at 100 TB, the
      // whole corpus three times)
      val states = ev.groupBy(col("event_type"))
        .agg(KmvSketch.kmvState(col("h"), k).as("state"))
        .localCheckpoint(true)
      val merged = states.agg(KmvSketch.kmvMerge(col("state"), k).as("kmv"))
        .select(col("kmv.est").as("est_union"), col("kmv.kth").as("kth"))
      val ha = states.where(col("event_type") === "click")
        .select(explode(col("state")).as("h"))
      val hb = states.where(col("event_type") === "purchase")
        .select(explode(col("state")).as("h"))
      // unsigned h <= kth ⟺ h is inside the union's k-min set (xor with
      // the sign bit maps unsigned order onto signed comparisons)
      val common = ha.join(hb, Seq("h")).crossJoin(broadcast(merged))
        .where(col("kth").isNull ||
          col("h").bitwiseXOR(lit(Long.MinValue)) <= col("kth").bitwiseXOR(lit(Long.MinValue)))
        .agg(count(lit(1)).as("n_common"))
      common.crossJoin(broadcast(merged))
        .select(
          // `div`, not `/`: Spark's / on longs yields DOUBLE; div is the
          // exact integer floor the oracle's // computes on positives
          when(col("kth").isNull, col("n_common"))
            .otherwise(expr(s"(n_common * est_union) div $k"))
            .as("est_intersection"),
          col("n_common"), col("est_union"))
    },
    "q67_excess_shippers" -> q { (s, dir) =>
      // TPC-H Q20 shape with partsupp modeled from shipped volume (the
      // testdata has no partsupp — same modeling rule as q41's cost):
      // suppliers holding an EXCESS share (> half) of any bolt-family
      // part's 1997 volume, with their nations. Scale shape: the part-
      // family filter broadcast-prunes lineitem BEFORE the first groupBy
      // (the q53 lesson), and the per-part total is a WINDOW over the
      // per-(part, supplier) aggregate on ONE exchange — the q60 trick:
      // repartition(l_partkey) satisfies the groupBy's clustering AND the
      // window's, so there is no self-join and the aggregate evaluates
      // once (the naive perPS⋈perP form re-ran the whole chain per side —
      // caught by the plan spec). Excess gate = exact integer cross-
      // multiplication; dims broadcast AFTER aggregation.
      val li = Tables.lineitem(s, dir)
        .where(col("l_shipdate") >= lit("1997-01-01").cast("timestamp") &&
          col("l_shipdate") < lit("1998-01-01").cast("timestamp"))
        .select(col("l_partkey"), col("l_suppkey"), c2(col("l_quantity")).as("q_c"))
      val bolts = broadcast(Tables.part(s, dir)
        .where(col("p_name").contains("bolt")).select(col("p_partkey")))
      val perPS = li.join(bolts, col("l_partkey") === col("p_partkey"))
        .repartition(col("l_partkey"))
        .groupBy(col("l_partkey"), col("l_suppkey"))
        .agg(xsum(col("q_c")).as("ps_qty"))
      val excess = perPS
        // the per-part window total follows ps_qty's type: sum over a
        // decimal(38,0) input stays decimal(38,0), so the whole gate chain
        // is exact
        .withColumn("p_qty", sum(col("ps_qty")).over(Window.partitionBy(col("l_partkey"))))
        .where(col("ps_qty") * 2 > col("p_qty"))
        .select(col("l_suppkey")).distinct()
      excess
        .join(broadcast(Tables.supplier(s, dir)
          .select(col("s_suppkey"), col("s_name"), col("s_nationkey"))),
          col("l_suppkey") === col("s_suppkey"))
        .join(broadcast(Tables.nation(s, dir).select(col("n_nationkey"), col("n_name"))),
          col("s_nationkey") === col("n_nationkey"))
        .select(col("s_suppkey"), col("s_name"), col("n_name"))
    },
    "q66_bfs_depths" -> q { (s, dir) =>
      // multi-source BFS over FOLLOWS (GraphOps.bfsDepths): the hop-
      // distance layer a feed surface ranks by, and the graph-traversal
      // member of the iterative family (q52 fixpoint ranks, d06 closure,
      // s11 training). Frontier-driven: per-iteration work ∝ the new
      // layer, never the graph; depths are exact integers so six
      // distributed rounds hash-match a recursive-CTE min-depth oracle.
      // seeds derive from the SAME self-loop-filtered distinct edge set the
      // traversal walks (bfsDepths re-applies the filter idempotently): a
      // node appearing only in self-loop rows must not seed the BFS, or the
      // engine would emit a depth-0 row the oracle's seeds CTE (reading the
      // filtered edge set e) never sees
      val edges = Tables.events(s, dir).select(
        col("user_id").as("src"),
        pmod(graft.expressions.JsonKernels.jsonLongField(col("props"), "k"), lit(150)).as("dst"))
        .where(col("dst").isNotNull && col("src") =!= col("dst"))
        .distinct()
        // materialized ONCE: seeds and the traversal both consume the
        // filtered distinct edge set (without the cut, the scan+distinct
        // evaluates once per consumer)
        .localCheckpoint(true)
      val seeds = edges.select(col("src").as("node"))
        .union(edges.select(col("dst")))
        .where(col("node") < 2).distinct()
      GraphOps.bfsDepths(edges, "src", "dst", seeds, maxDepth = 6)
    },
    "q62_shipmode_priority" -> q { (s, dir) =>
      // TPC-H Q12 shape — priority-class line counts per shipment category
      // with predicates on BOTH join sides (Q12's commit/receipt date chain
      // maps to the testdata's ship-vs-order lateness). The category +
      // ship-window filters push to the lineitem scan (PushedFilters), the
      // priority CASE-sums fold into ONE hash agg pass, and the only
      // shuffle is the fact-fact orderkey join (orders broadcast at bench
      // scale; AQE decides on a cluster). Lateness compares epoch MICROS —
      // integer arithmetic, no calendar/timezone drift between engines.
      val li = Tables.lineitem(s, dir)
        .where(col("l_returnflag").isin("A", "N") &&
          col("l_shipdate") >= lit("1997-01-01").cast("timestamp") &&
          col("l_shipdate") < lit("1998-01-01").cast("timestamp"))
        .select(col("l_orderkey"), col("l_returnflag"),
          unix_micros(col("l_shipdate").cast("timestamp")).as("ship_us"))
      val ord = Tables.orders(s, dir)
        .select(col("o_orderkey"),
          unix_micros(col("o_orderdate").cast("timestamp")).as("ord_us"),
          col("o_orderpriority"))
      li.join(ord, col("l_orderkey") === col("o_orderkey"))
        .where(col("ship_us") >= col("ord_us") + lit(30L * 86400000000L))
        .groupBy(col("l_returnflag"))
        .agg(
          sum(when(col("o_orderpriority").isin("1-URGENT", "2-HIGH"), 1L).otherwise(0L))
            .as("high_line_count"),
          sum(when(col("o_orderpriority").isin("1-URGENT", "2-HIGH"), 0L).otherwise(1L))
            .as("low_line_count"))
    },
    "q63_kmv_distinct" -> q { (s, dir) =>
      // KMV distinct-count sketch (expressions/KmvSketch.scala): the
      // mergeable cardinality estimator for 100 TB rollups. countDistinct
      // shuffles every distinct key; the sketch state is O(k) per group,
      // partial-aggregates map-side (ObjectHashAggregate merges partial
      // buffers like percentile_approx), and month = merge(days) without
      // re-touching keys. Sketch inputs are splitmix64 hashes (codegen,
      // same constants as the shingle kernel) and the estimate is exact
      // integer floor-div of the k-th smallest UNSIGNED hash — an
      // approximate operator with a hash-exact oracle. SKETCH-ONLY output:
      // the exact countDistinct lives in the SPEC (KmvSketchSpec's accuracy
      // check — at k=64 relative error ~1/√(k−2) ≈ 13%), not in the shipped
      // query — at 100 TB the exact rider IS the every-distinct-key shuffle
      // the sketch exists to avoid, and a rider would dominate the
      // operator's measured cost profile (VERDICT r7).
      import graft.expressions.KmvSketch
      Tables.events(s, dir)
        .select(col("event_type"),
          KmvSketch.splitmix64(col("user_id")).as("h"))
        .groupBy(col("event_type"))
        .agg(KmvSketch.kmvDistinct(col("h"), 64).as("kmv"))
        .select(col("event_type"), col("kmv.est").as("est_users"),
          col("kmv.kth").as("kth_hash"))
    },
    "q65_sketch_quantiles" -> q { (s, dir) =>
      // quantile SKETCH: the k rows with the smallest unsigned
      // splitmix64(event_id) form a deterministic uniform sample (bottom-k
      // by a unique row key — a seeded SRS that is a pure function of the
      // row set, so unlike KLL/t-digest it is order-, partition- and
      // merge-tree-independent and therefore hash-exactly oracle-able).
      // Quantiles are q26's type-1 picks over the sample, values as exact
      // 1e-2-scaled integers. SKETCH-ONLY output: the exact full-data
      // quantiles live in the SPEC (below fill the sample IS the data and
      // sketch == exact; above fill the spec bounds the rank error) — the
      // exact branch was a per-class window sort over ALL rows, the very
      // full-shuffle cost profile the sketch replaces (VERDICT r7). O(k)
      // state per group, map-side partial merges: the quantile member of
      // the q63/q64 mergeable-sketch family. Null contract: the sketch
      // skips NULL values; the oracle filters them identically (the
      // testdata's value column is non-null, but parity must not rely on
      // it — ADVICE r7).
      import graft.expressions.KmvSketch
      val k = 256
      Tables.events(s, dir)
        .select(col("event_type"),
          KmvSketch.splitmix64(col("event_id")).as("h"),
          c2(col("value")).as("v_c"))
        .groupBy(col("event_type"))
        .agg(KmvSketch.quantileSketch(col("h"), col("v_c"), k).as("qs"))
        .select(col("event_type"), col("qs.n_sample").as("n_sample"),
          col("qs.p50").as("p50_c"), col("qs.p90").as("p90_c"))
    },
    "q64_kmv_mergeable" -> q { (s, dir) =>
      // sketch ALGEBRA (the rollup contract): per-group sketch STATES
      // (array<long> k-min sets — the persistable value a daily job writes)
      // union-merge into the global estimate WITHOUT re-touching raw keys.
      // k-min(∪ sets) = k-min(∪ k-min sets), so the merged estimate is
      // IDENTICAL to sketching the raw union — est_union must equal
      // est_direct exactly, and the oracle checks equality, not closeness.
      // At 100 TB this is how distinct-count rollups actually run: days
      // keep k longs each, months merge days, nothing re-scans. Sketch-only
      // output (the exact countDistinct rider moved to KmvSketchSpec —
      // VERDICT r7's q63 rule applied family-wide).
      import graft.expressions.KmvSketch
      val k = 64
      val ev = Tables.events(s, dir)
        .select(col("event_type"),
          KmvSketch.splitmix64(col("user_id")).as("h"))
      val merged = ev.groupBy(col("event_type"))
        .agg(KmvSketch.kmvState(col("h"), k).as("state"))
        .agg(KmvSketch.kmvMerge(col("state"), k).as("kmv"))
        .select(col("kmv.est").as("est_union"), col("kmv.kth").as("kth_union"))
      val direct = ev
        .agg(KmvSketch.kmvDistinct(col("h"), k).as("kmv"))
        .select(col("kmv.est").as("est_direct"))
      merged.crossJoin(direct)
    },
    "t18_gopher_rules" -> q { (s, dir) =>
      // Gopher rule-based quality filtering (Rae et al. 2021, arXiv:
      // 2112.11446 table A1; the C4 heuristics' successor): word-count
      // bounds, mean-word-length band, alpha-word fraction, symbol-word
      // ratio, distinct-stopword floor. One codegen regexp scan pass —
      // counts come from regexp_count over a single-spaced fold (patterns
      // in the Java/RE2 common subset; '[^ ]*x[^ ]*' matches once per
      // TOKEN containing x under both engines' leftmost-longest/greedy
      // semantics, dodging the delimiter-sharing undercount of '( |^)x'
      // forms). Every gate is integer cross-multiplication (3·n ≤ Σlen ≤
      // 10·n, 5·alpha ≥ 4·n, 10·sym ≤ n) — zero FP anywhere, so the keep
      // decision is bit-identical at any scale.
      val stopwords = Seq("the", "a", "of", "and", "to", "in", "is")
      val sp = regexp_replace(lower(trim(col("text"))), "\\s+", " ")
      val nWords = regexp_count(sp, lit("[^ ]+"))
      val docs = Tables.documents(s, dir)
        .select(col("doc_id"),
          nWords.cast("long").as("n_words"),
          length(regexp_replace(sp, " ", "")).cast("long").as("char_sum"),
          regexp_count(sp, lit("[^ ]*[a-z][^ ]*")).cast("long").as("alpha_words"),
          regexp_count(sp, lit("[^ ]*#[^ ]*")).cast("long").as("sym_words"),
          stopwords.map(w =>
            when(sp.rlike("(^| )" + w + "( |$)"), 1L).otherwise(0L))
            .reduce(_ + _).as("stop_distinct"))
      docs.withColumn("keep",
        when(col("n_words") >= 50 && col("n_words") <= 100000 &&
          col("char_sum") >= col("n_words") * 3 && col("char_sum") <= col("n_words") * 10 &&
          col("alpha_words") * 5 >= col("n_words") * 4 &&
          col("sym_words") * 10 <= col("n_words") &&
          col("stop_distinct") >= 2, 1L).otherwise(0L))
    },
    "d12_dedup_pipeline" -> q { (s, dir) =>
      // the END-TO-END fuzzy dedup decision a corpus actually ships:
      // MinHash-LSH candidates → exact n-gram Jaccard ≥ 0.5 confirm (d04's
      // operator) → transitive clusters (d06's label propagation) → keep
      // the min-id doc per cluster. Every stage is the already-proven
      // sub-quadratic plan — band-bucket joins, pair-scale iteration,
      // one left join back to the corpus roster; unpaired docs short-
      // circuit to keep=1 without entering the closure. The oracle runs
      // the all-pairs exact Jaccard + recursive-CTE closure, so banding
      // recall is hash-checked end-to-end, not assumed.
      val docs = Tables.documents(s, dir)
      val pairs = Dedup.ngramJaccard(docs, "doc_id", "text", shingleK = 3, minJaccard = 0.5)
      val clusters = Dedup.connectedComponents(pairs, "a", "b")
      docs.select(col("doc_id"))
        .join(clusters, col("doc_id") === col("node_id"), "left")
        .select(col("doc_id"),
          coalesce(col("cluster_id"), col("doc_id")).as("cluster_id"),
          when(col("cluster_id").isNull || col("cluster_id") === col("doc_id"), 1L)
            .otherwise(0L).as("keep"))
    })

  // --------------------------------------------------------------------------

  /** DuckDB oracles; column names/types aligned with the Spark outputs.
    * Ops whose semantics SQL can't express (hash-pipeline internals) are
    * omitted → driver records a rows-only check.
    */

  /** The exact regexp chain of TextFns.normalize, in the Java/RE2-common
    * subset, with DuckDB's 'g' flag — shared by the t05 and t11 oracles.
    */
  private val NormalizeSql: String =
    """trim(regexp_replace(lower(
      |  regexp_replace(
      |    regexp_replace(
      |      regexp_replace(
      |        regexp_replace(text, '<[^>]*>', ' ', 'g'),
      |        'https?://[^ \t\n\r]+', ' ', 'g'),
      |      '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', ' ', 'g'),
      |    '[\x00-\x1f]', ' ', 'g')),
      |  '  +', ' ', 'g'))""".stripMargin

  def oracleSql: Map[String, String] = {
    val base = oracleSqlBase
    // q73–q76 alias q12/q16/q48/q49, so they share those oracle texts
    // (DuckDB's sum over BIGINT is natively HUGEINT, the exact sum's
    // semantics).
    base ++ Map(
      "q73_pricing_summary_wide" -> base("q12_pricing_summary"),
      "q74_brand_volume_wide" -> base("q16_brand_volume"),
      "q75_revenue_forecast_wide" -> base("q48_revenue_forecast"),
      "q76_promo_share_wide" -> base("q49_promo_share"),
      // q77's cents stay in DuckDB's native HUGEINT until the final
      // BIGINT cast — exact wherever the output contract (cents < 2^63)
      // holds, i.e. everywhere the Spark form is defined
      "q77_pricing_summary_cents" ->
        """WITH s AS (
          |  SELECT l_returnflag, l_linestatus,
          |         CAST(round(l_quantity*100) AS BIGINT) AS q2,
          |         CAST(round(l_extendedprice*100) AS BIGINT) AS p2,
          |         CAST(round(l_discount*100) AS BIGINT) AS d2,
          |         CAST(round(l_tax*100) AS BIGINT) AS t2
          |  FROM lineitem WHERE CAST(l_shipdate AS DATE) <= DATE '1998-09-02')
          |SELECT l_returnflag, l_linestatus,
          |       CAST(sum(q2) AS BIGINT) AS sum_qty_c2,
          |       CAST(sum(p2) AS BIGINT) AS sum_base_price_c2,
          |       CAST((sum(p2 * (100 - d2)) + 50) // 100 AS BIGINT) AS sum_disc_price_c2,
          |       CAST((sum(p2 * (100 - d2) * (100 + t2)) + 5000) // 10000 AS BIGINT) AS sum_charge_c2,
          |       count(*) AS count_order
          |FROM s GROUP BY l_returnflag, l_linestatus""".stripMargin,
      // q78/q79: same HUGEINT-until-the-final-BIGINT-cast contract as q77
      "q78_region_revenue_cents" ->
        """SELECT r_name, n_name,
          |       CAST((sum(CAST(round(l_extendedprice*100) AS BIGINT)
          |                 * (100 - CAST(round(l_discount*100) AS BIGINT))) + 50) // 100 AS BIGINT) AS revenue_c2,
          |       count(*) AS n_items
          |FROM lineitem
          |JOIN orders ON l_orderkey = o_orderkey
          |JOIN customer ON o_custkey = c_custkey
          |JOIN nation ON c_nationkey = n_nationkey
          |JOIN region ON n_regionkey = r_regionkey
          |GROUP BY r_name, n_name""".stripMargin,
      "q79_brand_volume_cents" ->
        """SELECT p_brand,
          |       CAST(sum(CAST(round(l_quantity*100) AS BIGINT)) AS BIGINT) AS sum_qty_c2,
          |       CAST((sum(CAST(round(l_extendedprice*100) AS BIGINT)
          |                 * (100 - CAST(round(l_discount*100) AS BIGINT))) + 50) // 100 AS BIGINT) AS revenue_c2,
          |       count(*) AS n_items
          |FROM lineitem JOIN part ON l_partkey = p_partkey
          |GROUP BY p_brand""".stripMargin,
      // q80/q81: the value_sums / event_value cents representatives — same
      // HUGEINT-until-the-final-BIGINT-cast contract as q77
      "q80_revenue_forecast_cents" -> centsOracleSql("q48_revenue_forecast"),
      "q81_tumbling_daily_cents" -> centsOracleSql("q23_tumbling_daily"))
  }

  /** The oracle map a Verify dump must be compared against GIVEN the
    * engine switches in effect (ADVICE r17): [[centsOut]] changes the
    * OUTPUT FORM of q12/q73, q13 and q16/q74 (BIGINT `_c2` columns, avg
    * columns omitted), so their dollar-form oracle texts cannot match a
    * cents-mode dump — remap them to the registered cents oracles, the
    * same texts q77/q78/q79 verify against. Verify writes this map, so a GRAFT_CENTS_OUT=1 sweep
    * compares every routed member against the form it actually emitted. */
  def oracleSqlFor(centsOn: Boolean): Map[String, String] = {
    val base = oracleSql
    if (!centsOn) base
    else base ++ Map(
      "q12_pricing_summary" -> base("q77_pricing_summary_cents"),
      "q73_pricing_summary_wide" -> base("q77_pricing_summary_cents"),
      "q13_region_revenue" -> base("q78_region_revenue_cents"),
      "q16_brand_volume" -> base("q79_brand_volume_cents"),
      "q74_brand_volume_wide" -> base("q79_brand_volume_cents")) ++
      // r18: the value_sums / event_value members the switch routes in
      // place — each verifies against its own cents oracle text
      centsOracleSql ++ Map(
        "q75_revenue_forecast_wide" -> centsOracleSql("q48_revenue_forecast"),
        "q76_promo_share_wide" -> centsOracleSql("q49_promo_share"))
  }

  /** Cents-form oracle texts for the [[centsOut]]-routed members of the
    * `cast_double:value_sums` and `cast_double:event_value` audit rows
    * (r18, VERDICT r17 item 3) — the dollar oracles minus their final
    * double division, sums in DuckDB's native HUGEINT cast to BIGINT at
    * the output (the q77 contract). Keys are the ROUTED member names;
    * [[oracleSqlFor]] overlays them in cents mode, and q80/q81 register
    * the q48/q23 texts always-on. */
  private val centsOracleSql: Map[String, String] = {
    val eventTypeCents =
      """SELECT event_type, count(*) AS n_rows,
        |       CAST(sum(CAST(round(value*100) AS BIGINT)) AS BIGINT) AS sum_value_c2
        |FROM events GROUP BY event_type""".stripMargin
    Map(
      "q48_revenue_forecast" ->
        """SELECT CAST((sum(CAST(round(l_extendedprice * l_discount * 10000) AS BIGINT)) + 50) // 100 AS BIGINT) AS revenue_c2,
          |       count(*) AS n_items
          |FROM lineitem
          |WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
          |  AND l_shipdate < TIMESTAMP '1997-01-01 00:00:00'
          |  AND l_discount BETWEEN 0.02 AND 0.04 AND l_quantity < 24""".stripMargin,
      "q53_small_order_revenue" ->
        """WITH li AS (
          |  SELECT l_partkey,
          |         CAST(round(l_quantity * 100) AS BIGINT) AS q2,
          |         CAST(round(l_extendedprice * 100) AS BIGINT) AS p2
          |  FROM lineitem),
          |pp AS (SELECT l_partkey, CAST(sum(q2) AS BIGINT) AS sumq2, count(*) AS cnt
          |       FROM li GROUP BY 1)
          |SELECT CAST(sum(li.p2) AS BIGINT) AS below_avg_revenue_c2,
          |       count(*) AS n_items
          |FROM li
          |JOIN part ON li.l_partkey = p_partkey AND p_brand = 'Brand#1'
          |JOIN pp ON li.l_partkey = pp.l_partkey
          |WHERE 5 * li.q2 * pp.cnt < pp.sumq2""".stripMargin,
      "q55_disjunctive_revenue" ->
        """WITH li AS (
          |  SELECT l_partkey,
          |         CAST(round(l_quantity * 100) AS BIGINT) AS q2,
          |         CAST(round(l_extendedprice * (1.0 - l_discount) * 10000) AS BIGINT) AS vol4
          |  FROM lineitem)
          |SELECT CAST((sum(vol4) + 50) // 100 AS BIGINT) AS revenue_c2, count(*) AS n_items
          |FROM li JOIN part ON l_partkey = p_partkey
          |WHERE (p_brand = 'Brand#1' AND p_size BETWEEN 1 AND 10 AND q2 BETWEEN 500 AND 2000)
          |   OR (p_brand = 'Brand#2' AND p_size BETWEEN 5 AND 20 AND q2 BETWEEN 1000 AND 3000)
          |   OR (p_brand = 'Brand#3' AND p_size BETWEEN 10 AND 40 AND q2 BETWEEN 2000 AND 5000)""".stripMargin,
      "q11_salted_agg" -> eventTypeCents,
      "q30_incremental_agg" -> eventTypeCents,
      "q23_tumbling_daily" ->
        """SELECT epoch_us(ts) // 86400000000 AS day_idx, count(*) AS n,
          |       CAST(sum(CAST(round(value*100) AS BIGINT)) AS BIGINT) AS sum_value_c2
          |FROM events GROUP BY 1""".stripMargin,
      "q44_rolling_metrics" ->
        """SELECT user_id, event_id, epoch_us(ts) AS ts_us,
          |       count(*) OVER w AS n_24h,
          |       CAST(sum(CAST(round(value * 100) AS BIGINT)) OVER w AS BIGINT) AS sum_value_24h_c2
          |FROM events
          |WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(ts)
          |             RANGE BETWEEN 86400000000 PRECEDING AND CURRENT ROW)""".stripMargin,
      "q47_gap_fill" ->
        """WITH daily AS (
          |  SELECT user_id, epoch_us(ts) // 86400000000 AS day, count(*) AS n_events,
          |         sum(CAST(round(value * 100) AS BIGINT)) AS v2
          |  FROM events GROUP BY 1, 2),
          |spans AS (SELECT user_id, min(day) AS d0, max(day) AS d1 FROM daily GROUP BY 1),
          |alldays AS (SELECT user_id, unnest(generate_series(d0, d1)) AS day FROM spans),
          |j AS (SELECT a.user_id, a.day, d.n_events, d.v2
          |      FROM alldays a LEFT JOIN daily d USING (user_id, day))
          |SELECT user_id, day AS day_idx,
          |       CAST(coalesce(n_events, 0) AS BIGINT) AS n_events,
          |       CAST(last_value(v2 IGNORE NULLS) OVER (
          |              PARTITION BY user_id ORDER BY day
          |              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
          |         AS filled_value_c2
          |FROM j""".stripMargin,
      // --- r18 wave 2: the grouped/entity/acctbal/qty cast families ------
      "q08_profiles_view" ->
        """SELECT c_custkey, c_name, count(o_orderkey) AS n_orders,
          |       CAST(coalesce(sum(CAST(round(o_totalprice*100) AS BIGINT)), 0) AS BIGINT) AS total_spend_c2,
          |       coalesce(max(epoch_ms(o_orderdate)), 0) AS last_order_ms
          |FROM customer LEFT JOIN orders ON c_custkey = o_custkey
          |GROUP BY c_custkey, c_name""".stripMargin,
      "q18_nation_rollup" ->
        """SELECT coalesce(r_name, '(all)') AS r_name, coalesce(n_name, '(all)') AS n_name,
          |       count(*) AS n_customers,
          |       CAST(sum(CAST(round(c_acctbal*100) AS BIGINT)) AS BIGINT) AS sum_acctbal_c2
          |FROM customer
          |JOIN nation ON c_nationkey = n_nationkey
          |JOIN region ON n_regionkey = r_regionkey
          |GROUP BY ROLLUP(r_name, n_name)""".stripMargin,
      "q22_range_join" ->
        """SELECT CAST(band_id AS BIGINT) AS band_id, count(*) AS n,
          |       CAST(sum(CAST(round(value*100) AS BIGINT)) AS BIGINT) AS sum_value_c2
          |FROM events
          |JOIN (VALUES (0,0.0,50.0),(1,50.0,100.0),(2,100.0,150.0),(3,150.0,200.0),(4,200.0,1000000000.0))
          |  AS r(band_id, lo, hi)
          |ON value >= lo AND value < hi
          |GROUP BY band_id""".stripMargin,
      "q29_salted_join" ->
        """SELECT s_name, count(*) AS n_items,
          |       CAST(sum(CAST(round(l_extendedprice*100) AS BIGINT)) AS BIGINT) AS sum_price_c2
          |FROM lineitem JOIN supplier ON l_suppkey = s_suppkey
          |GROUP BY s_name""".stripMargin,
      "q32_ship_priority" ->
        """SELECT o_orderkey, CAST(CAST(o_orderdate AS DATE) AS VARCHAR) AS o_date,
          |  CAST((rev4i + 50) // 100 AS BIGINT) AS revenue_c2
          |FROM (
          |  SELECT o_orderkey, o_orderdate,
          |         sum(CAST(round(l_extendedprice*100) AS BIGINT)
          |             * (100 - CAST(round(l_discount*100) AS BIGINT))) AS rev4i
          |  FROM lineitem
          |  JOIN orders ON l_orderkey = o_orderkey
          |  JOIN customer ON o_custkey = c_custkey
          |  WHERE c_mktsegment = 'BUILDING'
          |    AND o_orderdate < TIMESTAMP '1998-01-01'
          |    AND l_shipdate > TIMESTAMP '1998-01-01'
          |  GROUP BY o_orderkey, o_orderdate
          |  ORDER BY rev4i DESC, o_orderkey ASC LIMIT 10)""".stripMargin,
      "q34_nation_trade" ->
        """SELECT supp_nation, cust_nation, l_year,
          |       CAST((sum(vol4) + 50) // 100 AS BIGINT) AS revenue_c2, count(*) AS n_items
          |FROM (SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
          |             CAST(year(l_shipdate) AS BIGINT) AS l_year,
          |             CAST(round(l_extendedprice * (1.0 - l_discount) * 10000) AS BIGINT) AS vol4
          |      FROM lineitem
          |      JOIN supplier ON l_suppkey = s_suppkey
          |      JOIN orders ON l_orderkey = o_orderkey
          |      JOIN customer ON o_custkey = c_custkey
          |      JOIN nation n1 ON s_nationkey = n1.n_nationkey
          |      JOIN nation n2 ON c_nationkey = n2.n_nationkey
          |      WHERE ((n1.n_name = 'NATION_1' AND n2.n_name = 'NATION_2')
          |          OR (n1.n_name = 'NATION_2' AND n2.n_name = 'NATION_1'))
          |        AND l_shipdate >= TIMESTAMP '1995-01-01'
          |        AND l_shipdate < TIMESTAMP '1997-01-01')
          |GROUP BY supp_nation, cust_nation, l_year""".stripMargin,
      "q35_returned_items" ->
        """SELECT c_custkey, c_name, CAST((rev4 + 50) // 100 AS BIGINT) AS revenue_c2,
          |       c_acctbal, n_name, n_items
          |FROM (SELECT c_custkey, c_name, c_acctbal, n_name,
          |             sum(CAST(round((l_extendedprice * (1.0 - l_discount)) * 10000) AS BIGINT)) AS rev4,
          |             count(*) AS n_items
          |      FROM lineitem
          |      JOIN orders ON l_orderkey = o_orderkey
          |      JOIN customer ON o_custkey = c_custkey
          |      JOIN nation ON c_nationkey = n_nationkey
          |      WHERE l_returnflag = 'R'
          |        AND o_orderdate >= TIMESTAMP '1996-01-01'
          |        AND o_orderdate < TIMESTAMP '1996-04-01'
          |      GROUP BY c_custkey, c_name, c_acctbal, n_name
          |      ORDER BY rev4 DESC, c_custkey ASC LIMIT 20)""".stripMargin,
      "q40_market_share" ->
        """SELECT o_year,
          |       CAST((2*CAST(t4 AS HUGEINT)*1000000 + a4) // (2*a4) AS DOUBLE) / 1000000.0 AS mkt_share,
          |       CAST((a4 + 50) // 100 AS BIGINT) AS total_revenue_c2
          |FROM (
          |  SELECT CAST(year(o_orderdate) AS BIGINT) AS o_year,
          |         CAST(sum(CASE WHEN n2.n_name = 'NATION_2'
          |                       THEN CAST(round(l_extendedprice * (1.0 - l_discount) * 10000) AS BIGINT)
          |                       ELSE 0 END) AS BIGINT) AS t4,
          |         CAST(sum(CAST(round(l_extendedprice * (1.0 - l_discount) * 10000) AS BIGINT)) AS BIGINT) AS a4
          |  FROM lineitem
          |  JOIN part ON l_partkey = p_partkey AND p_type = 'ECONOMY'
          |  JOIN supplier ON l_suppkey = s_suppkey
          |  JOIN nation n2 ON s_nationkey = n2.n_nationkey
          |  JOIN orders ON l_orderkey = o_orderkey
          |  JOIN customer ON o_custkey = c_custkey
          |  JOIN nation n1 ON c_nationkey = n1.n_nationkey
          |  JOIN region ON n1.n_regionkey = r_regionkey AND r_name = 'ASIA'
          |  GROUP BY 1)""".stripMargin,
      // q41's profit sums can be NEGATIVE: DuckDB's // truncates toward
      // zero where Spark floors, so both engines divide |S| and reapply
      // the sign (HALF_UP away from zero — the centsIS kernel)
      "q41_product_profit" ->
        """SELECT nation, o_year,
          |       CAST(CASE WHEN s4 < 0 THEN -((-s4 + 50) // 100)
          |                 ELSE (s4 + 50) // 100 END AS BIGINT) AS profit_c2,
          |       n_items
          |FROM (
          |  SELECT n_name AS nation, CAST(year(o_orderdate) AS BIGINT) AS o_year,
          |         sum(CAST(round((l_extendedprice * (1.0 - l_discount)
          |                   - 0.1 * p_retailprice * l_quantity) * 10000) AS BIGINT)) AS s4,
          |         count(*) AS n_items
          |  FROM lineitem
          |  JOIN part ON l_partkey = p_partkey AND p_name LIKE '%bolt%'
          |  JOIN supplier ON l_suppkey = s_suppkey
          |  JOIN nation ON s_nationkey = n_nationkey
          |  JOIN orders ON l_orderkey = o_orderkey
          |  GROUP BY 1, 2)""".stripMargin,
      "q43_idle_customers" ->
        """WITH s AS (
          |  SELECT CAST(sum(CAST(round(c_acctbal * 100) AS BIGINT)) AS BIGINT) AS sum2,
          |         count(*) AS n_pos
          |  FROM customer WHERE c_acctbal > 0.0),
          |rich AS (
          |  SELECT c.c_mktsegment, CAST(round(c.c_acctbal * 100) AS BIGINT) AS bal2
          |  FROM customer c, s
          |  WHERE CAST(round(c.c_acctbal * 100) AS BIGINT) * s.n_pos > s.sum2
          |    AND NOT EXISTS (SELECT 1 FROM orders
          |                    WHERE o_custkey = c.c_custkey
          |                      AND o_orderdate >= TIMESTAMP '1999-01-01 00:00:00'))
          |SELECT c_mktsegment, count(*) AS n_cust,
          |       CAST(sum(bal2) AS BIGINT) AS total_bal_c2
          |FROM rich GROUP BY 1""".stripMargin,
      "q49_promo_share" ->
        """SELECT l_year,
          |       CAST((2*CAST(p4 AS HUGEINT)*1000000 + a4) // (2*a4) AS DOUBLE) / 1000000.0 AS promo_share,
          |       CAST((p4 + 50) // 100 AS BIGINT) AS promo_revenue_c2
          |FROM (
          |  SELECT CAST(year(l_shipdate) AS BIGINT) AS l_year,
          |         CAST(sum(CASE WHEN p_type = 'PROMO'
          |                       THEN CAST(round(l_extendedprice * (1.0 - l_discount) * 10000) AS BIGINT)
          |                       ELSE 0 END) AS BIGINT) AS p4,
          |         CAST(sum(CAST(round(l_extendedprice * (1.0 - l_discount) * 10000) AS BIGINT)) AS BIGINT) AS a4
          |  FROM lineitem JOIN part ON l_partkey = p_partkey
          |  GROUP BY 1)""".stripMargin,
      "q54_large_orders" ->
        """WITH big AS (
          |  SELECT l_orderkey, CAST(sum(CAST(round(l_quantity * 100) AS BIGINT)) AS BIGINT) AS sumq2,
          |         count(*) AS n_items
          |  FROM lineitem GROUP BY 1
          |  HAVING sum(CAST(round(l_quantity * 100) AS BIGINT)) > 20000)
          |SELECT c_name, o_custkey AS custkey, l_orderkey AS orderkey,
          |       CAST(sumq2 AS BIGINT) AS total_qty_c2, n_items
          |FROM big
          |JOIN orders ON l_orderkey = o_orderkey
          |JOIN customer ON o_custkey = c_custkey
          |ORDER BY total_qty_c2 DESC, orderkey ASC
          |LIMIT 20""".stripMargin,
      "q56_top_supplier" ->
        """WITH rev AS (
          |  SELECT l_suppkey,
          |         CAST(sum(CAST(round(l_extendedprice * (1.0 - l_discount) * 10000) AS BIGINT)) AS BIGINT) AS rev4
          |  FROM lineitem
          |  WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
          |    AND l_shipdate < TIMESTAMP '1996-04-01 00:00:00'
          |  GROUP BY 1)
          |SELECT s_name, l_suppkey AS suppkey, CAST((rev4 + 50) // 100 AS BIGINT) AS total_revenue_c2
          |FROM rev JOIN supplier ON l_suppkey = s_suppkey
          |WHERE rev4 = (SELECT max(rev4) FROM rev)""".stripMargin,
      "q59_cube_volume" ->
        """SELECT coalesce(p_brand, 'ALL') AS brand,
          |       coalesce(CAST(l_year AS VARCHAR), 'ALL') AS year,
          |       count(*) AS n_items,
          |       CAST(sum(q2) AS BIGINT) AS total_qty_c2
          |FROM (SELECT p_brand, CAST(year(l_shipdate) AS BIGINT) AS l_year,
          |             CAST(round(l_quantity * 100) AS BIGINT) AS q2
          |      FROM lineitem JOIN part ON l_partkey = p_partkey)
          |GROUP BY CUBE(p_brand, l_year)""".stripMargin)
  }

  private def oracleSqlBase: Map[String, String] = Map(
    // hash-kernel operators: the SQL re-derives the signature arithmetic
    // (wrapped-64-bit emulation in HUGEINT) from the same constants the
    // kernels use — see OracleHashSql
    "d02_dedup_minhash" -> OracleHashSql.d02Sql,
    "d03_dedup_simhash" -> OracleHashSql.d03Sql,
    "s02_ann_lsh" -> OracleHashSql.s02Sql,
    "s03_ann_ivf" -> OracleHashSql.s03Sql,
    "t04_fingerprint" -> OracleHashSql.t04Sql,
    "q01_latest_wins" ->
      """SELECT user_id, event_id, epoch_us(ts) AS ts_us, event_type, value
        |FROM (SELECT *, row_number() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn FROM events)
        |WHERE rn = 1""".stripMargin,
    "q57_sync_checksum" ->
      """WITH st AS (
        |  SELECT user_id, event_id, epoch_us(ts) AS ts_us, event_type,
        |         CAST(round(value * 100) AS BIGINT) AS v2
        |  FROM (SELECT *, row_number() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn
        |        FROM events)
        |  WHERE rn = 1),
        |dg AS (
        |  SELECT CAST(concat('0x', substring(md5(
        |           user_id || '|' || event_id || '|' || ts_us || '|' || event_type || '|' || v2
        |         ), 1, 15)) AS BIGINT) AS digest
        |  FROM st)
        |SELECT count(*) AS n_rows, CAST(bit_xor(digest) AS BIGINT) AS checksum FROM dg""".stripMargin,
    "q02_snapshot_merge" ->
      s"""WITH e AS (SELECT user_id, event_id, epoch_us(ts) AS ts_us, value FROM events),
         |f AS (SELECT user_id, event_id, ts_us, value, 'full' AS src
         |      FROM (SELECT *, row_number() OVER (PARTITION BY user_id ORDER BY ts_us DESC, event_id DESC) AS rn
         |            FROM e WHERE ts_us < $CutUs) WHERE rn = 1),
         |i AS (SELECT user_id, event_id, ts_us, value, 'incremental' AS src FROM e WHERE ts_us >= $CutUs),
         |u AS (SELECT * FROM f UNION ALL SELECT * FROM i)
         |SELECT user_id, event_id, ts_us, value, src
         |FROM (SELECT *, row_number() OVER (PARTITION BY user_id ORDER BY ts_us DESC, event_id DESC) AS rn FROM u)
         |WHERE rn = 1""".stripMargin,
    "q03_rowfilter" ->
      """SELECT event_id, user_id, event_type, value FROM events
        |WHERE event_type IN ('purchase', 'click')
        |   OR (value >= 150.0 AND event_type NOT IN ('error', 'signup'))""".stripMargin,
    "q04_backfill_range" ->
      s"""SELECT event_id, user_id, epoch_us(ts) AS ts_us, event_type, value FROM events
         |WHERE epoch_us(ts) >= $BackfillStartUs AND epoch_us(ts) <= $BackfillEndUs""".stripMargin,
    "q05_pk_dedup" ->
      """SELECT user_id, event_type, event_id, epoch_us(ts) AS ts_us, value
        |FROM (SELECT *, row_number() OVER (PARTITION BY user_id, event_type ORDER BY ts DESC, event_id DESC) AS rn FROM events)
        |WHERE rn = 1""".stripMargin,
    "q06_json_extract" ->
      "SELECT event_id, CAST(json_extract_string(props, '$.k') AS BIGINT) AS k FROM events",
    "q07_tracking" ->
      """WITH c AS (SELECT event_type, event_id, epoch_us(ts) AS ts_us FROM events WHERE event_id % 5 <> 0),
        |l AS (SELECT event_type, event_id AS last_event_id
        |      FROM (SELECT *, row_number() OVER (PARTITION BY event_type ORDER BY ts_us DESC, event_id DESC) AS rn FROM c)
        |      WHERE rn = 1)
        |SELECT c.event_type, max(c.ts_us) AS last_ts_us, any_value(l.last_event_id) AS last_event_id,
        |       count(*) AS n_completed
        |FROM c JOIN l ON c.event_type = l.event_type
        |GROUP BY c.event_type""".stripMargin,
    "q08_profiles_view" ->
      """SELECT c_custkey, c_name, count(o_orderkey) AS n_orders,
        |       round(CAST(coalesce(sum(CAST(round(o_totalprice*100) AS BIGINT)), 0) AS DOUBLE) / 100.0, 2) AS total_spend,
        |       coalesce(max(epoch_ms(o_orderdate)), 0) AS last_order_ms
        |FROM customer LEFT JOIN orders ON c_custkey = o_custkey
        |GROUP BY c_custkey, c_name""".stripMargin,
    "q09_graph_degree" ->
      """SELECT 'src' AS role, l_suppkey AS node_id, count(DISTINCT l_partkey) AS degree FROM lineitem GROUP BY l_suppkey
        |UNION ALL
        |SELECT 'dst' AS role, l_partkey AS node_id, count(DISTINCT l_suppkey) AS degree FROM lineitem GROUP BY l_partkey""".stripMargin,
    "q10_edge_merge" ->
      """SELECT user_id AS src, CAST(json_extract_string(props, '$.k') AS BIGINT) AS dst,
        |       max(epoch_us(ts)) AS last_ts_us, count(*) AS n_events
        |FROM events GROUP BY 1, 2""".stripMargin,
    "q12_pricing_summary" ->
      """WITH s AS (
        |  SELECT l_returnflag, l_linestatus,
        |         CAST(round(l_quantity*100) AS BIGINT) AS q2,
        |         CAST(round(l_extendedprice*100) AS BIGINT) AS p2,
        |         CAST(round(l_discount*100) AS BIGINT) AS d2,
        |         CAST(round(l_tax*100) AS BIGINT) AS t2
        |  FROM lineitem WHERE CAST(l_shipdate AS DATE) <= DATE '1998-09-02')
        |SELECT l_returnflag, l_linestatus,
        |       round(CAST(sum(q2) AS DOUBLE) / 100.0, 2) AS sum_qty,
        |       round(CAST(sum(p2) AS DOUBLE) / 100.0, 2) AS sum_base_price,
        |       CAST((sum(p2 * (100 - d2)) + 50) // 100 AS DOUBLE) / 100.0 AS sum_disc_price,
        |       CAST((sum(p2 * (100 - d2) * (100 + t2)) + 5000) // 10000 AS DOUBLE) / 100.0 AS sum_charge,
        |       CAST((2*sum(q2)*10000 + count(*)*100) // (2*count(*)*100) AS DOUBLE) / 10000.0 AS avg_qty,
        |       CAST((2*sum(p2)*10000 + count(*)*100) // (2*count(*)*100) AS DOUBLE) / 10000.0 AS avg_price,
        |       CAST((2*sum(d2)*10000 + count(*)*100) // (2*count(*)*100) AS DOUBLE) / 10000.0 AS avg_disc,
        |       count(*) AS count_order
        |FROM s GROUP BY l_returnflag, l_linestatus""".stripMargin,
    "q13_region_revenue" ->
      """SELECT r_name, n_name,
        |       CAST((sum(CAST(round(l_extendedprice*100) AS BIGINT)
        |                 * (100 - CAST(round(l_discount*100) AS BIGINT))) + 50) // 100 AS DOUBLE) / 100.0 AS revenue,
        |       count(*) AS n_items
        |FROM lineitem
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |JOIN nation ON c_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey
        |GROUP BY r_name, n_name""".stripMargin,
    "q14_top_customers" ->
      """SELECT o_custkey, o_orderkey, o_totalprice, CAST(rnk AS BIGINT) AS "rank"
        |FROM (SELECT o_custkey, o_orderkey, o_totalprice,
        |             row_number() OVER (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey ASC) AS rnk
        |      FROM orders)
        |WHERE rnk <= 3""".stripMargin,
    "q15_event_sessions" ->
      """WITH e AS (SELECT user_id, event_id, epoch_us(ts) AS ts_us FROM events),
        |g AS (SELECT user_id,
        |             CASE WHEN lag(ts_us) OVER (PARTITION BY user_id ORDER BY ts_us ASC, event_id ASC) IS NULL
        |                    OR ts_us - lag(ts_us) OVER (PARTITION BY user_id ORDER BY ts_us ASC, event_id ASC) > 1800000000
        |                  THEN 1 ELSE 0 END AS new_session
        |      FROM e)
        |SELECT user_id, CAST(sum(new_session) AS BIGINT) AS n_sessions, count(*) AS n_events
        |FROM g GROUP BY user_id""".stripMargin,
    "q11_salted_agg" ->
      """SELECT event_type, count(*) AS n_rows,
        |       round(CAST(sum(CAST(round(value*100) AS BIGINT)) AS DOUBLE) / 100.0, 2) AS sum_value
        |FROM events GROUP BY event_type""".stripMargin,
    "q29_salted_join" ->
      """SELECT s_name, count(*) AS n_items,
        |       round(CAST(sum(CAST(round(l_extendedprice*100) AS BIGINT)) AS DOUBLE) / 100.0, 2) AS sum_price
        |FROM lineitem JOIN supplier ON l_suppkey = s_suppkey
        |GROUP BY s_name""".stripMargin,
    "q16_brand_volume" ->
      """SELECT p_brand,
        |       round(CAST(sum(CAST(round(l_quantity*100) AS BIGINT)) AS DOUBLE) / 100.0, 2) AS sum_qty,
        |       CAST((sum(CAST(round(l_extendedprice*100) AS BIGINT)
        |                 * (100 - CAST(round(l_discount*100) AS BIGINT))) + 50) // 100 AS DOUBLE) / 100.0 AS revenue,
        |       count(*) AS n_items
        |FROM lineitem JOIN part ON l_partkey = p_partkey
        |GROUP BY p_brand""".stripMargin,
    "q17_priority_counts" ->
      """SELECT o_orderpriority, count(*) AS n_orders,
        |       CAST((2*sum(CAST(round(o_totalprice*100) AS BIGINT))*100 + count(*)*100) // (2*count(*)*100) AS DOUBLE) / 100.0 AS avg_price
        |FROM orders
        |WHERE epoch_ms(o_orderdate) BETWEEN 788918400000 AND 796694399999
        |GROUP BY o_orderpriority""".stripMargin,
    "q18_nation_rollup" ->
      """SELECT coalesce(r_name, '(all)') AS r_name, coalesce(n_name, '(all)') AS n_name,
        |       count(*) AS n_customers,
        |       round(CAST(sum(CAST(round(c_acctbal*100) AS BIGINT)) AS DOUBLE) / 100.0, 2) AS sum_acctbal
        |FROM customer
        |JOIN nation ON c_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey
        |GROUP BY ROLLUP(r_name, n_name)""".stripMargin,
    "q19_registry_sync" ->
      """SELECT 'customer' AS table_name, count(*) AS n_current FROM customer
        |UNION ALL SELECT 'events', count(DISTINCT user_id) FROM events
        |UNION ALL SELECT 'lineitem', count(*) FROM (SELECT DISTINCT l_orderkey, l_linenumber FROM lineitem)
        |UNION ALL SELECT 'orders', count(DISTINCT o_orderkey) FROM orders
        |UNION ALL SELECT 'supplier', count(DISTINCT s_suppkey) FROM supplier""".stripMargin,
    "q39_typed_sync" ->
      """SELECT user_id, event_id, epoch_us(ts) AS ts_us, event_type,
        |       CAST(json_extract_string(props, '$.k') AS BIGINT) AS prop_k
        |FROM (SELECT *, row_number() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn FROM events)
        |WHERE rn = 1""".stripMargin,
    "q33_node_merge" ->
      """WITH n AS (
        |  SELECT 'user' AS label, user_id AS node_key, event_type AS name, value AS score,
        |         epoch_us(ts) AS updated_ts, event_id AS upd_id
        |  FROM events
        |  UNION ALL
        |  SELECT 'customer', c_custkey, c_name, c_acctbal, 0, 0 FROM customer)
        |SELECT label, node_key, name, score, updated_ts, upd_id, n_updates
        |FROM (SELECT *,
        |             row_number() OVER (PARTITION BY label, node_key ORDER BY updated_ts DESC, upd_id DESC) AS rn,
        |             count(*) OVER (PARTITION BY label, node_key) AS n_updates
        |      FROM n)
        |WHERE rn = 1""".stripMargin,
    "d01_dedup_exact" ->
      "SELECT min(doc_id) AS canonical_id, count(*) AS n_copies FROM documents GROUP BY text",
    // exact Jaccard is hash-free in the oracle: the kernel's xxhash-style
    // shingle hashing is a set-identity trick, so DuckDB can recompute the
    // same sets from raw text (lowercase, \s+ split, k=3 joined by ' ').
    // The LSH candidate stage has full recall on near-dup data at this
    // threshold (verified at sf0.001/sf0.01), so candidates+exact == exact.
    // the oracle's pair generation is an INVERTED-INDEX join (docs sharing
    // at least one shingle), not an all-pairs scan: j >= 0.5 implies a
    // shared shingle, so the outputs are provably identical (verified
    // bit-equal against the all-pairs form at sf0.01) while the oracle
    // stays runnable a decade up — 17x at sf0.01, feasible-vs-hopeless
    // at sf1. Intersection size = COUNT over the gram join (sets are
    // list_distinct), Jaccard from |A| + |B| − |A∩B|, arithmetic unchanged.
    "d04_ngram_jaccard" ->
      """WITH toks AS (
        |  SELECT doc_id,
        |         list_filter(string_split_regex(lower(trim(text)), '\s+'), t -> t <> '') AS tk
        |  FROM documents),
        |sets AS (
        |  SELECT doc_id,
        |         list_distinct(CASE WHEN len(tk) <= 3 THEN [array_to_string(tk, ' ')]
        |              ELSE list_transform(range(1, len(tk) - 1), i -> array_to_string(tk[i:i+2], ' ')) END) AS sh
        |  FROM toks),
        |sizes AS (SELECT doc_id, len(sh) AS n FROM sets),
        |inv AS (SELECT doc_id, unnest(sh) AS g FROM sets),
        |shared AS (
        |  SELECT x.doc_id AS a, y.doc_id AS b, count(*) AS inter
        |  FROM inv x JOIN inv y ON x.g = y.g AND x.doc_id < y.doc_id
        |  GROUP BY 1, 2),
        |pairs AS (
        |  SELECT a, b, CAST(inter AS DOUBLE) / (sa.n + sb.n - inter) AS j
        |  FROM shared JOIN sizes sa ON sa.doc_id = shared.a JOIN sizes sb ON sb.doc_id = shared.b)
        |SELECT a, b, round(j, 4) AS jaccard FROM pairs WHERE j >= 0.5""".stripMargin,
    // the full d04 exact-pairs set restricted to pairs touching the new
    // batch — the delta path's equality contract
    "d08_dedup_incremental" ->
      """WITH toks AS (
        |  SELECT doc_id,
        |         list_filter(string_split_regex(lower(trim(text)), '\s+'), t -> t <> '') AS tk
        |  FROM documents),
        |sets AS (
        |  SELECT doc_id,
        |         list_distinct(CASE WHEN len(tk) <= 3 THEN [array_to_string(tk, ' ')]
        |              ELSE list_transform(range(1, len(tk) - 1), i -> array_to_string(tk[i:i+2], ' ')) END) AS sh
        |  FROM toks),
        |sizes AS (SELECT doc_id, len(sh) AS n FROM sets),
        |inv AS (SELECT doc_id, unnest(sh) AS g FROM sets),
        |shared AS (
        |  SELECT x.doc_id AS a, y.doc_id AS b, count(*) AS inter
        |  FROM inv x JOIN inv y ON x.g = y.g AND x.doc_id < y.doc_id
        |  GROUP BY 1, 2),
        |pairs AS (
        |  SELECT a, b, CAST(inter AS DOUBLE) / (sa.n + sb.n - inter) AS j
        |  FROM shared JOIN sizes sa ON sa.doc_id = shared.a JOIN sizes sb ON sb.doc_id = shared.b)
        |SELECT a, b, round(j, 4) AS jaccard FROM pairs
        |WHERE j >= 0.5 AND (a % 10 = 9 OR b % 10 = 9)""".stripMargin,
    // NOTE: DuckDB's list_cosine_similarity computes in float32 and can never
    // hash-match a double pipeline; these oracles re-derive cosine in double
    // (list_sum is sequential left-to-right, matching the Spark loop).
    // norms hoist into a per-vector CTE: same list_sum over the same list
    // gives the identical double, computed |V| times instead of |V|² —
    // what keeps these deliberately-quadratic baselines runnable at sf1
    "d05_embed_neardup" ->
      """WITH nm AS (
        |  SELECT vec_id, embedding,
        |    list_sum(list_transform(embedding, x -> CAST(x AS DOUBLE)*CAST(x AS DOUBLE))) AS n2
        |  FROM embeddings),
        |p AS (
        |  SELECT a.vec_id AS a, b.vec_id AS b,
        |    list_sum(list_transform(list_zip(a.embedding, b.embedding), s -> CAST(s[1] AS DOUBLE)*CAST(s[2] AS DOUBLE))) AS dot,
        |    a.n2 AS na, b.n2 AS nb
        |  FROM nm a JOIN nm b ON a.vec_id < b.vec_id)
        |SELECT a, b, round(dot/(sqrt(na)*sqrt(nb)), 4) AS cos
        |FROM p WHERE dot/(sqrt(na)*sqrt(nb)) >= 0.35""".stripMargin,
    // pos is 1-based here vs Spark's 0-based posexplode — it is only a
    // join key within each engine, never an output column
    "s06_quantize" ->
      """WITH c0 AS (
        |  SELECT vec_id, list_transform(range(1, len(embedding)+1), i -> {'pos': i, 'v': CAST(embedding[i] AS DOUBLE)}) AS cells
        |  FROM embeddings),
        |cells AS (SELECT vec_id, unnest(cells, recursive := true) FROM c0),
        |stats AS (SELECT pos, min(v) AS mn, max(v) AS mx FROM cells GROUP BY pos),
        |codes AS (
        |  SELECT vec_id,
        |         CASE WHEN mx > mn THEN CAST(floor((v - mn) * 255.0 / (mx - mn)) AS BIGINT) ELSE 0 END AS code
        |  FROM cells JOIN stats USING (pos))
        |SELECT vec_id, count(*) AS n_dims, CAST(sum(code) AS BIGINT) AS code_sum,
        |       min(code) AS code_min, max(code) AS code_max
        |FROM codes GROUP BY vec_id""".stripMargin,
    "d09_embed_delta" ->
      """WITH nm AS (
        |  SELECT vec_id, embedding,
        |    list_sum(list_transform(embedding, x -> CAST(x AS DOUBLE)*CAST(x AS DOUBLE))) AS n2
        |  FROM embeddings),
        |p AS (
        |  SELECT a.vec_id AS a, b.vec_id AS b,
        |    list_sum(list_transform(list_zip(a.embedding, b.embedding), s -> CAST(s[1] AS DOUBLE)*CAST(s[2] AS DOUBLE))) AS dot,
        |    a.n2 AS na, b.n2 AS nb
        |  FROM nm a JOIN nm b ON a.vec_id < b.vec_id
        |  WHERE a.vec_id % 100 >= 98 OR b.vec_id % 100 >= 98)
        |SELECT a, b, round(dot/(sqrt(na)*sqrt(nb)), 4) AS cos
        |FROM p WHERE dot/(sqrt(na)*sqrt(nb)) >= 0.35""".stripMargin,
    // same set-identity trick as t08/d04: the kernel's 8-gram hashing is a
    // collision-free identity on this corpus, so the oracle works on the
    // gram STRINGS directly (with the kernel's whole-doc rule for short docs)
    "d10_passage_dedup" ->
      """WITH toks AS (
        |  SELECT doc_id,
        |         list_filter(string_split_regex(lower(trim(text)), '\s+'), t -> t <> '') AS tk
        |  FROM documents),
        |grams AS (
        |  SELECT doc_id,
        |         unnest(CASE WHEN len(tk) <= 8 THEN [array_to_string(tk, ' ')]
        |                ELSE list_transform(range(1, len(tk) - 6), i -> array_to_string(tk[i:i+7], ' ')) END) AS g
        |  FROM toks),
        |pdg AS (SELECT doc_id, g, count(*) AS c FROM grams GROUP BY doc_id, g),
        |nd AS (SELECT doc_id, c, count(*) OVER (PARTITION BY g) AS n_docs FROM pdg)
        |SELECT doc_id,
        |       CAST(sum(c) AS BIGINT) AS n_passages,
        |       CAST(sum(CASE WHEN n_docs >= 2 THEN c ELSE 0 END) AS BIGINT) AS n_dup_passages,
        |       CAST((2*sum(CASE WHEN n_docs >= 2 THEN c ELSE 0 END)*10000 + sum(c)) // (2*sum(c)) AS DOUBLE) / 10000.0 AS dup_frac
        |FROM nd GROUP BY doc_id""".stripMargin,
    // PQ oracle: codebook re-derived from the 16 lowest-id vectors; the
    // argmin key m and err are written with EXACTLY the kernel's FP
    // shape — (0.0 - 2.0*dot) + c2, then xs2 + m — so codes and errors
    // are bit-identical; ties break to the lower codeword index
    "s08_pq_encode" ->
      """WITH cw AS (
        |  SELECT CAST(row_number() OVER (ORDER BY vec_id) - 1 AS BIGINT) AS j, embedding AS cv
        |  FROM embeddings ORDER BY vec_id LIMIT 16),
        |segs AS (SELECT CAST(i AS BIGINT) AS s FROM range(0, 8) t(i)),
        |cseg AS (SELECT j, s, cv[CAST(s*8+1 AS INT):CAST(s*8+8 AS INT)] AS cs FROM cw, segs),
        |vseg AS (
        |  SELECT vec_id, s, embedding[CAST(s*8+1 AS INT):CAST(s*8+8 AS INT)] AS xs
        |  FROM embeddings, segs),
        |scored AS (
        |  SELECT v.vec_id, v.s, c.j,
        |    list_sum(list_transform(v.xs, x -> CAST(x AS DOUBLE)*CAST(x AS DOUBLE))) AS xs2,
        |    (0.0 - 2.0 * list_sum(list_transform(list_zip(v.xs, c.cs), z -> CAST(z[1] AS DOUBLE)*CAST(z[2] AS DOUBLE))))
        |      + list_sum(list_transform(c.cs, x -> CAST(x AS DOUBLE)*CAST(x AS DOUBLE))) AS m
        |  FROM vseg v JOIN cseg c ON v.s = c.s),
        |best AS (
        |  SELECT vec_id, s AS seg, j AS code, xs2 + m AS err
        |  FROM (SELECT *, row_number() OVER (PARTITION BY vec_id, s ORDER BY m ASC, j ASC) AS rn
        |        FROM scored)
        |  WHERE rn = 1)
        |SELECT vec_id, seg, code, round(err, 4) AS err FROM best""".stripMargin,
    // ADC oracle: same codebook + code assignment CTEs as s08; per-segment
    // L2 between the raw query slice and the ASSIGNED codeword, then the
    // 8-term sum reassembled in pinned order via list_sum(list(ORDER BY s))
    // — matching the kernel's left-to-right s=0..7 addition chain
    "s09_adc_search" ->
      """WITH cw AS (
        |  SELECT CAST(row_number() OVER (ORDER BY vec_id) - 1 AS BIGINT) AS j, embedding AS cv
        |  FROM embeddings ORDER BY vec_id LIMIT 16),
        |segs AS (SELECT CAST(i AS BIGINT) AS s FROM range(0, 8) t(i)),
        |cseg AS (SELECT j, s, cv[CAST(s*8+1 AS INT):CAST(s*8+8 AS INT)] AS cs FROM cw, segs),
        |vseg AS (
        |  SELECT vec_id, s, embedding[CAST(s*8+1 AS INT):CAST(s*8+8 AS INT)] AS xs
        |  FROM embeddings, segs),
        |scored AS (
        |  SELECT v.vec_id, v.s, c.j,
        |    (0.0 - 2.0 * list_sum(list_transform(list_zip(v.xs, c.cs), z -> CAST(z[1] AS DOUBLE)*CAST(z[2] AS DOUBLE))))
        |      + list_sum(list_transform(c.cs, x -> CAST(x AS DOUBLE)*CAST(x AS DOUBLE))) AS m
        |  FROM vseg v JOIN cseg c ON v.s = c.s),
        |codes AS (
        |  SELECT vec_id, s, j AS code
        |  FROM (SELECT *, row_number() OVER (PARTITION BY vec_id, s ORDER BY m ASC, j ASC) AS rn
        |        FROM scored)
        |  WHERE rn = 1),
        |qseg AS (SELECT vec_id AS q_id, s, xs AS qs FROM vseg WHERE vec_id < 8),
        |l2 AS (
        |  SELECT q.q_id, c.vec_id AS cid, q.s,
        |    list_sum(list_transform(list_zip(q.qs, g.cs),
        |      z -> (CAST(z[1] AS DOUBLE) - CAST(z[2] AS DOUBLE)) * (CAST(z[1] AS DOUBLE) - CAST(z[2] AS DOUBLE)))) AS d2
        |  FROM qseg q
        |  JOIN codes c ON q.s = c.s AND c.vec_id <> q.q_id
        |  JOIN cseg g ON g.s = c.s AND g.j = c.code),
        |adc AS (SELECT q_id, cid, list_sum(list(d2 ORDER BY s)) AS adc FROM l2 GROUP BY 1, 2),
        |top AS (SELECT q_id, cid, adc,
        |               CAST(row_number() OVER (PARTITION BY q_id ORDER BY adc ASC, cid ASC) AS BIGINT) AS rank
        |        FROM adc)
        |SELECT q_id, cid AS neighbor_id, round(adc, 4) AS adc, rank
        |FROM top WHERE rank <= 5""".stripMargin,
    // integer Lloyd oracle: 3 unrolled assign/recompute iterations over
    // the 1e-6-scaled integer cells (the s04 scaling); distances and sums
    // are exact integers, centroid updates truncating integer division
    // (Spark `div` ≡ DuckDB `//`, both toward zero), assignment ties to
    // the lower centroid id, empty clusters keep the previous centroid —
    // the final (cluster, dim) grid hash-matches bit-for-bit
    "s11_kmeans_train" ->
      """WITH cells AS (
        |  SELECT vec_id, CAST(i AS BIGINT) AS dim,
        |         CAST(round(CAST(embedding[CAST(i+1 AS INT)] AS DOUBLE) * 1000000) AS BIGINT) AS x6
        |  FROM embeddings, range(0, 64) t(i)),
        |ids AS (
        |  SELECT vec_id, CAST(row_number() OVER (ORDER BY vec_id) - 1 AS BIGINT) AS ci
        |  FROM (SELECT vec_id FROM embeddings ORDER BY vec_id LIMIT 8)),
        |c0 AS (SELECT i.ci, c.dim, c.x6 AS c6 FROM ids i JOIN cells c USING (vec_id)),
        |dist1 AS (
        |  SELECT c.vec_id, k.ci, CAST(sum((c.x6 - k.c6)*(c.x6 - k.c6)) AS BIGINT) AS d2
        |  FROM cells c JOIN c0 k ON c.dim = k.dim GROUP BY 1, 2),
        |asg1 AS (
        |  SELECT vec_id, ci
        |  FROM (SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY d2 ASC, ci ASC) AS rn FROM dist1)
        |  WHERE rn = 1),
        |upd1 AS (
        |  SELECT a.ci, c.dim, CAST(sum(c.x6) AS BIGINT) // count(*) AS c6n
        |  FROM asg1 a JOIN cells c USING (vec_id) GROUP BY 1, 2),
        |c1 AS (SELECT p.ci, p.dim, coalesce(u.c6n, p.c6) AS c6
        |       FROM c0 p LEFT JOIN upd1 u ON p.ci = u.ci AND p.dim = u.dim),
        |dist2 AS (
        |  SELECT c.vec_id, k.ci, CAST(sum((c.x6 - k.c6)*(c.x6 - k.c6)) AS BIGINT) AS d2
        |  FROM cells c JOIN c1 k ON c.dim = k.dim GROUP BY 1, 2),
        |asg2 AS (
        |  SELECT vec_id, ci
        |  FROM (SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY d2 ASC, ci ASC) AS rn FROM dist2)
        |  WHERE rn = 1),
        |upd2 AS (
        |  SELECT a.ci, c.dim, CAST(sum(c.x6) AS BIGINT) // count(*) AS c6n
        |  FROM asg2 a JOIN cells c USING (vec_id) GROUP BY 1, 2),
        |c2 AS (SELECT p.ci, p.dim, coalesce(u.c6n, p.c6) AS c6
        |       FROM c1 p LEFT JOIN upd2 u ON p.ci = u.ci AND p.dim = u.dim),
        |dist3 AS (
        |  SELECT c.vec_id, k.ci, CAST(sum((c.x6 - k.c6)*(c.x6 - k.c6)) AS BIGINT) AS d2
        |  FROM cells c JOIN c2 k ON c.dim = k.dim GROUP BY 1, 2),
        |asg3 AS (
        |  SELECT vec_id, ci
        |  FROM (SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY d2 ASC, ci ASC) AS rn FROM dist3)
        |  WHERE rn = 1),
        |upd3 AS (
        |  SELECT a.ci, c.dim, CAST(sum(c.x6) AS BIGINT) // count(*) AS c6n, count(*) AS n
        |  FROM asg3 a JOIN cells c USING (vec_id) GROUP BY 1, 2)
        |SELECT p.ci AS cluster_id, p.dim, coalesce(u.c6n, p.c6) AS c6,
        |       coalesce(u.n, 0) AS n_members
        |FROM c2 p LEFT JOIN upd3 u ON p.ci = u.ci AND p.dim = u.dim""".stripMargin,
    // IVF-PQ oracle: s09's codebook/code/LUT CTEs plus the coarse
    // quantizer — cells = argmax cosine vs the 16 lowest-id centroids
    // (cosine in DOUBLE with pinned list_sum order, ties to the HIGHER
    // centroid id matching Spark's struct array_max), probes = each
    // query's top-4 cells by the same ordering; the l2/adc join is
    // restricted to candidates whose cell is probed by that query
    "s10_ivfpq" ->
      """WITH cw AS (
        |  SELECT CAST(row_number() OVER (ORDER BY vec_id) - 1 AS BIGINT) AS j, embedding AS cv
        |  FROM embeddings ORDER BY vec_id LIMIT 16),
        |segs AS (SELECT CAST(i AS BIGINT) AS s FROM range(0, 8) t(i)),
        |cseg AS (SELECT j, s, cv[CAST(s*8+1 AS INT):CAST(s*8+8 AS INT)] AS cs FROM cw, segs),
        |vseg AS (
        |  SELECT vec_id, s, embedding[CAST(s*8+1 AS INT):CAST(s*8+8 AS INT)] AS xs
        |  FROM embeddings, segs),
        |scored AS (
        |  SELECT v.vec_id, v.s, c.j,
        |    (0.0 - 2.0 * list_sum(list_transform(list_zip(v.xs, c.cs), z -> CAST(z[1] AS DOUBLE)*CAST(z[2] AS DOUBLE))))
        |      + list_sum(list_transform(c.cs, x -> CAST(x AS DOUBLE)*CAST(x AS DOUBLE))) AS m
        |  FROM vseg v JOIN cseg c ON v.s = c.s),
        |codes AS (
        |  SELECT vec_id, s, j AS code
        |  FROM (SELECT *, row_number() OVER (PARTITION BY vec_id, s ORDER BY m ASC, j ASC) AS rn
        |        FROM scored)
        |  WHERE rn = 1),
        |cents AS (
        |  SELECT CAST(row_number() OVER (ORDER BY vec_id) - 1 AS BIGINT) AS ci, embedding AS ev
        |  FROM embeddings ORDER BY vec_id LIMIT 16),
        |cscore AS (
        |  SELECT e.vec_id, c.ci,
        |    list_sum(list_transform(list_zip(e.embedding, c.ev), z -> CAST(z[1] AS DOUBLE)*CAST(z[2] AS DOUBLE)))
        |      / (sqrt(list_sum(list_transform(e.embedding, x -> CAST(x AS DOUBLE)*CAST(x AS DOUBLE))))
        |         * sqrt(list_sum(list_transform(c.ev, x -> CAST(x AS DOUBLE)*CAST(x AS DOUBLE))))) AS cos
        |  FROM embeddings e, cents c),
        |cells AS (
        |  SELECT vec_id, ci AS cell
        |  FROM (SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY cos DESC, ci DESC) AS rn FROM cscore)
        |  WHERE rn = 1),
        |probes AS (
        |  SELECT vec_id AS q_id, ci AS cell
        |  FROM (SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY cos DESC, ci DESC) AS rn
        |        FROM cscore WHERE vec_id < 8)
        |  WHERE rn <= 4),
        |qseg AS (SELECT vec_id AS q_id, s, xs AS qs FROM vseg WHERE vec_id < 8),
        |l2 AS (
        |  SELECT q.q_id, c.vec_id AS cid, q.s,
        |    list_sum(list_transform(list_zip(q.qs, g.cs),
        |      z -> (CAST(z[1] AS DOUBLE) - CAST(z[2] AS DOUBLE)) * (CAST(z[1] AS DOUBLE) - CAST(z[2] AS DOUBLE)))) AS d2
        |  FROM qseg q
        |  JOIN codes c ON q.s = c.s AND c.vec_id <> q.q_id
        |  JOIN cells ce ON ce.vec_id = c.vec_id
        |  JOIN probes p ON p.q_id = q.q_id AND p.cell = ce.cell
        |  JOIN cseg g ON g.s = c.s AND g.j = c.code),
        |adc AS (SELECT q_id, cid, list_sum(list(d2 ORDER BY s)) AS adc FROM l2 GROUP BY 1, 2),
        |top AS (SELECT q_id, cid, adc,
        |               CAST(row_number() OVER (PARTITION BY q_id ORDER BY adc ASC, cid ASC) AS BIGINT) AS rank
        |        FROM adc)
        |SELECT q_id, cid AS neighbor_id, round(adc, 4) AS adc, rank
        |FROM top WHERE rank <= 5""".stripMargin,
    // the three greedy MMR steps unrolled: pick1 = argmax rel; each later
    // pick re-scores the remainder against the selected set with the same
    // 0.7/0.3 literals the Spark loop uses (NOT 1−λ — IEEE 1.0−0.7 is
    // 0.30000000000000004); ties break to the lower cid everywhere
    "s07_mmr_diversify" ->
      """WITH cos AS (
        |  SELECT q.vec_id AS q_id, c.vec_id AS cid, c.embedding AS cv,
        |    list_sum(list_transform(list_zip(c.embedding, q.embedding), s -> CAST(s[1] AS DOUBLE)*CAST(s[2] AS DOUBLE)))
        |      / (sqrt(list_sum(list_transform(c.embedding, x -> CAST(x AS DOUBLE)*CAST(x AS DOUBLE))))
        |         * sqrt(list_sum(list_transform(q.embedding, x -> CAST(x AS DOUBLE)*CAST(x AS DOUBLE))))) AS rel
        |  FROM embeddings q JOIN embeddings c ON q.vec_id <> c.vec_id
        |  WHERE q.vec_id < 8),
        |pool AS (
        |  SELECT q_id, cid, cv, rel
        |  FROM (SELECT *, row_number() OVER (PARTITION BY q_id ORDER BY rel DESC, cid ASC) AS rn FROM cos)
        |  WHERE rn <= 20),
        |s1 AS (
        |  SELECT q_id, cid, cv, rel, CAST(1 AS BIGINT) AS pick
        |  FROM (SELECT *, row_number() OVER (PARTITION BY q_id ORDER BY rel DESC, cid ASC) AS r FROM pool)
        |  WHERE r = 1),
        |r2 AS (SELECT p.* FROM pool p LEFT JOIN s1 ON p.q_id = s1.q_id AND p.cid = s1.cid
        |       WHERE s1.cid IS NULL),
        |p2 AS (
        |  SELECT r.q_id, r.cid, any_value(r.cv) AS cv, any_value(r.rel) AS rel,
        |         max(list_sum(list_transform(list_zip(r.cv, s.cv), z -> CAST(z[1] AS DOUBLE)*CAST(z[2] AS DOUBLE)))
        |             / (sqrt(list_sum(list_transform(r.cv, x -> CAST(x AS DOUBLE)*CAST(x AS DOUBLE))))
        |                * sqrt(list_sum(list_transform(s.cv, x -> CAST(x AS DOUBLE)*CAST(x AS DOUBLE)))))) AS pen
        |  FROM r2 r JOIN s1 s ON r.q_id = s.q_id
        |  GROUP BY r.q_id, r.cid),
        |s2 AS (
        |  SELECT q_id, cid, cv, rel, CAST(2 AS BIGINT) AS pick
        |  FROM (SELECT *, row_number() OVER (PARTITION BY q_id ORDER BY 0.7*rel - 0.3*pen DESC, cid ASC) AS r FROM p2)
        |  WHERE r = 1),
        |sel12 AS (SELECT q_id, cid, cv FROM s1 UNION ALL SELECT q_id, cid, cv FROM s2),
        |r3 AS (SELECT p.* FROM pool p LEFT JOIN sel12 s ON p.q_id = s.q_id AND p.cid = s.cid
        |       WHERE s.cid IS NULL),
        |p3 AS (
        |  SELECT r.q_id, r.cid, any_value(r.rel) AS rel,
        |         max(list_sum(list_transform(list_zip(r.cv, s.cv), z -> CAST(z[1] AS DOUBLE)*CAST(z[2] AS DOUBLE)))
        |             / (sqrt(list_sum(list_transform(r.cv, x -> CAST(x AS DOUBLE)*CAST(x AS DOUBLE))))
        |                * sqrt(list_sum(list_transform(s.cv, x -> CAST(x AS DOUBLE)*CAST(x AS DOUBLE)))))) AS pen
        |  FROM r3 r JOIN sel12 s ON r.q_id = s.q_id
        |  GROUP BY r.q_id, r.cid),
        |s3 AS (
        |  SELECT q_id, cid, rel, CAST(3 AS BIGINT) AS pick
        |  FROM (SELECT *, row_number() OVER (PARTITION BY q_id ORDER BY 0.7*rel - 0.3*pen DESC, cid ASC) AS r FROM p3)
        |  WHERE r = 1)
        |SELECT q_id, pick, cid AS neighbor_id, round(rel, 4) AS rel
        |FROM (SELECT q_id, cid, rel, pick FROM s1
        |      UNION ALL SELECT q_id, cid, rel, pick FROM s2
        |      UNION ALL SELECT q_id, cid, rel, pick FROM s3)""".stripMargin,
    // the oracle re-derives the deterministic lowest-id quantizer, mirrors
    // the (cos, cid)-struct argmax tie-break (cos DESC, ci DESC), and
    // recomputes every within-cell pair in double — cosine arithmetic is
    // IEEE-identical to the fused kernel (the d05 contract)
    "d11_semantic_dedup" ->
      """WITH cent AS (
        |  SELECT CAST(row_number() OVER (ORDER BY vec_id) - 1 AS BIGINT) AS ci, embedding AS cv
        |  FROM embeddings ORDER BY vec_id LIMIT 32),
        |score AS (
        |  SELECT e.vec_id, e.embedding, c.ci,
        |         list_sum(list_transform(list_zip(e.embedding, c.cv), s -> CAST(s[1] AS DOUBLE)*CAST(s[2] AS DOUBLE)))
        |           / (sqrt(list_sum(list_transform(e.embedding, x -> CAST(x AS DOUBLE)*CAST(x AS DOUBLE))))
        |              * sqrt(list_sum(list_transform(c.cv, x -> CAST(x AS DOUBLE)*CAST(x AS DOUBLE))))) AS cos
        |  FROM embeddings e CROSS JOIN cent c),
        |assign AS (
        |  SELECT vec_id, embedding, ci AS cell
        |  FROM (SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY cos DESC, ci DESC) AS rn
        |        FROM score)
        |  WHERE rn = 1),
        |rm AS (
        |  SELECT DISTINCT a.vec_id
        |  FROM assign a JOIN assign b ON a.cell = b.cell AND b.vec_id < a.vec_id
        |  WHERE list_sum(list_transform(list_zip(a.embedding, b.embedding), s -> CAST(s[1] AS DOUBLE)*CAST(s[2] AS DOUBLE)))
        |          / (sqrt(list_sum(list_transform(a.embedding, x -> CAST(x AS DOUBLE)*CAST(x AS DOUBLE))))
        |             * sqrt(list_sum(list_transform(b.embedding, x -> CAST(x AS DOUBLE)*CAST(x AS DOUBLE))))) >= 0.35)
        |SELECT a.vec_id, a.cell,
        |       CAST(CASE WHEN r.vec_id IS NULL THEN 1 ELSE 0 END AS BIGINT) AS keep
        |FROM assign a LEFT JOIN rm r ON a.vec_id = r.vec_id""".stripMargin,
    // d14 is d11 at the production cell count (k = max(16, N/125)) with
    // the TWO-LEVEL assignment rule the Spark side runs: cells partition
    // into contiguous groups of gs = ceil(k/ceil(sqrt(k))), a vector
    // argmaxes over the group LEADERS (lowest-cid member) first, then
    // over the chosen group's cells — both argmaxes with the (cos DESC,
    // id DESC) tie-break and the same double cosine as d11
    "d14_semantic_dedup_scaled" ->
      """WITH p AS (SELECT greatest(16, count(*)//125) AS k FROM embeddings),
        |p2 AS (SELECT k, CAST(ceil(sqrt(CAST(k AS DOUBLE))) AS BIGINT) AS c FROM p),
        |p3 AS (SELECT k, (k + c - 1)//c AS gs FROM p2),
        |cent AS (
        |  SELECT CAST(row_number() OVER (ORDER BY vec_id) - 1 AS BIGINT) AS ci, embedding AS cv
        |  FROM embeddings ORDER BY vec_id
        |  LIMIT (SELECT k FROM p)),
        |cent2 AS (SELECT ci, ci // (SELECT gs FROM p3) AS gid, cv FROM cent),
        |lead AS (SELECT gid, cv AS lv FROM cent2 WHERE ci % (SELECT gs FROM p3) = 0),
        |gscore AS (
        |  SELECT e.vec_id, e.embedding, l.gid,
        |         list_sum(list_transform(list_zip(e.embedding, l.lv), s -> CAST(s[1] AS DOUBLE)*CAST(s[2] AS DOUBLE)))
        |           / (sqrt(list_sum(list_transform(e.embedding, x -> CAST(x AS DOUBLE)*CAST(x AS DOUBLE))))
        |              * sqrt(list_sum(list_transform(l.lv, x -> CAST(x AS DOUBLE)*CAST(x AS DOUBLE))))) AS cos
        |  FROM embeddings e CROSS JOIN lead l),
        |gassign AS (
        |  SELECT vec_id, embedding, gid
        |  FROM (SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY cos DESC, gid DESC) AS rn
        |        FROM gscore)
        |  WHERE rn = 1),
        |score AS (
        |  SELECT a.vec_id, a.embedding, c.ci,
        |         list_sum(list_transform(list_zip(a.embedding, c.cv), s -> CAST(s[1] AS DOUBLE)*CAST(s[2] AS DOUBLE)))
        |           / (sqrt(list_sum(list_transform(a.embedding, x -> CAST(x AS DOUBLE)*CAST(x AS DOUBLE))))
        |              * sqrt(list_sum(list_transform(c.cv, x -> CAST(x AS DOUBLE)*CAST(x AS DOUBLE))))) AS cos
        |  FROM gassign a JOIN cent2 c ON c.gid = a.gid),
        |assign AS (
        |  SELECT vec_id, embedding, ci AS cell
        |  FROM (SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY cos DESC, ci DESC) AS rn
        |        FROM score)
        |  WHERE rn = 1),
        |rm AS (
        |  SELECT DISTINCT a.vec_id
        |  FROM assign a JOIN assign b ON a.cell = b.cell AND b.vec_id < a.vec_id
        |  WHERE list_sum(list_transform(list_zip(a.embedding, b.embedding), s -> CAST(s[1] AS DOUBLE)*CAST(s[2] AS DOUBLE)))
        |          / (sqrt(list_sum(list_transform(a.embedding, x -> CAST(x AS DOUBLE)*CAST(x AS DOUBLE))))
        |             * sqrt(list_sum(list_transform(b.embedding, x -> CAST(x AS DOUBLE)*CAST(x AS DOUBLE))))) >= 0.35)
        |SELECT a.vec_id, a.cell,
        |       CAST(CASE WHEN r.vec_id IS NULL THEN 1 ELSE 0 END AS BIGINT) AS keep
        |FROM assign a LEFT JOIN rm r ON a.vec_id = r.vec_id""".stripMargin,
    // d15 = d14's two-level pick (g0..a0), then ONE exact-integer Lloyd
    // update (s11's cellsx/upd/coalesce at production k; `//` truncates
    // toward zero = the JVM's long division), then the re-pick against the
    // float32 image of the updated integer centroids (CAST(... AS REAL)
    // mirrors the engine's (c6/1e6).toFloat), then the cell-local prune
    "d15_semantic_dedup_lloyd" ->
      """WITH p AS (SELECT greatest(16, count(*)//125) AS k FROM embeddings),
        |p2 AS (SELECT k, CAST(ceil(sqrt(CAST(k AS DOUBLE))) AS BIGINT) AS c FROM p),
        |p3 AS (SELECT k, (k + c - 1)//c AS gs FROM p2),
        |st AS (SELECT greatest(1, (SELECT count(*) FROM embeddings) // (SELECT k FROM p)) AS s),
        |cent0 AS (
        |  SELECT CAST(row_number() OVER (ORDER BY vec_id) - 1 AS BIGINT) AS ci, vec_id, embedding AS cv
        |  FROM embeddings WHERE vec_id % (SELECT s FROM st) = 0
        |  ORDER BY vec_id
        |  LIMIT (SELECT k FROM p)),
        |cg0 AS (SELECT ci, ci // (SELECT gs FROM p3) AS gid, cv FROM cent0),
        |ld0 AS (SELECT gid, cv AS lv FROM cg0 WHERE ci % (SELECT gs FROM p3) = 0),
        |g0 AS (
        |  SELECT e.vec_id, e.embedding, l.gid,
        |         list_sum(list_transform(list_zip(e.embedding, l.lv), s -> CAST(s[1] AS DOUBLE)*CAST(s[2] AS DOUBLE)))
        |           / (sqrt(list_sum(list_transform(e.embedding, x -> CAST(x AS DOUBLE)*CAST(x AS DOUBLE))))
        |              * sqrt(list_sum(list_transform(l.lv, x -> CAST(x AS DOUBLE)*CAST(x AS DOUBLE))))) AS cos
        |  FROM embeddings e CROSS JOIN ld0 l),
        |ga0 AS (
        |  SELECT vec_id, embedding, gid
        |  FROM (SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY cos DESC, gid DESC) AS rn
        |        FROM g0)
        |  WHERE rn = 1),
        |s0 AS (
        |  SELECT a.vec_id, c.ci,
        |         list_sum(list_transform(list_zip(a.embedding, c.cv), s -> CAST(s[1] AS DOUBLE)*CAST(s[2] AS DOUBLE)))
        |           / (sqrt(list_sum(list_transform(a.embedding, x -> CAST(x AS DOUBLE)*CAST(x AS DOUBLE))))
        |              * sqrt(list_sum(list_transform(c.cv, x -> CAST(x AS DOUBLE)*CAST(x AS DOUBLE))))) AS cos
        |  FROM ga0 a JOIN cg0 c ON c.gid = a.gid),
        |a0 AS (
        |  SELECT vec_id, ci AS cell
        |  FROM (SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY cos DESC, ci DESC) AS rn
        |        FROM s0)
        |  WHERE rn = 1),
        |cellsx AS (
        |  SELECT vec_id, CAST(i AS BIGINT) AS dim,
        |         CAST(round(CAST(embedding[CAST(i+1 AS INT)] AS DOUBLE) * 1000000) AS BIGINT) AS x6
        |  FROM embeddings, range(0, 64) t(i)),
        |c60 AS (SELECT n.ci, c.dim, c.x6 AS c6 FROM cent0 n JOIN cellsx c USING (vec_id)),
        |upd AS (
        |  SELECT a.cell AS ci, c.dim, CAST(sum(c.x6) AS BIGINT) // count(*) AS c6n
        |  FROM a0 a JOIN cellsx c USING (vec_id) GROUP BY 1, 2),
        |c61 AS (
        |  SELECT p.ci, p.dim, coalesce(u.c6n, p.c6) AS c6
        |  FROM c60 p LEFT JOIN upd u ON p.ci = u.ci AND p.dim = u.dim),
        |cent1 AS (
        |  SELECT ci, list(CAST(CAST(c6 AS DOUBLE)/1000000.0 AS REAL) ORDER BY dim) AS cv
        |  FROM c61 GROUP BY ci),
        |cg1 AS (SELECT ci, ci // (SELECT gs FROM p3) AS gid, cv FROM cent1),
        |ld1 AS (SELECT gid, cv AS lv FROM cg1 WHERE ci % (SELECT gs FROM p3) = 0),
        |g1 AS (
        |  SELECT e.vec_id, e.embedding, l.gid,
        |         list_sum(list_transform(list_zip(e.embedding, l.lv), s -> CAST(s[1] AS DOUBLE)*CAST(s[2] AS DOUBLE)))
        |           / (sqrt(list_sum(list_transform(e.embedding, x -> CAST(x AS DOUBLE)*CAST(x AS DOUBLE))))
        |              * sqrt(list_sum(list_transform(l.lv, x -> CAST(x AS DOUBLE)*CAST(x AS DOUBLE))))) AS cos
        |  FROM embeddings e CROSS JOIN ld1 l),
        |ga1 AS (
        |  SELECT vec_id, embedding, gid
        |  FROM (SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY cos DESC, gid DESC) AS rn
        |        FROM g1)
        |  WHERE rn = 1),
        |s1 AS (
        |  SELECT a.vec_id, a.embedding, c.ci,
        |         list_sum(list_transform(list_zip(a.embedding, c.cv), s -> CAST(s[1] AS DOUBLE)*CAST(s[2] AS DOUBLE)))
        |           / (sqrt(list_sum(list_transform(a.embedding, x -> CAST(x AS DOUBLE)*CAST(x AS DOUBLE))))
        |              * sqrt(list_sum(list_transform(c.cv, x -> CAST(x AS DOUBLE)*CAST(x AS DOUBLE))))) AS cos
        |  FROM ga1 a JOIN cg1 c ON c.gid = a.gid),
        |a1 AS (
        |  SELECT vec_id, embedding, ci AS cell
        |  FROM (SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY cos DESC, ci DESC) AS rn
        |        FROM s1)
        |  WHERE rn = 1),
        |rm AS (
        |  SELECT DISTINCT a.vec_id
        |  FROM a1 a JOIN a1 b ON a.cell = b.cell AND b.vec_id < a.vec_id
        |  WHERE list_sum(list_transform(list_zip(a.embedding, b.embedding), s -> CAST(s[1] AS DOUBLE)*CAST(s[2] AS DOUBLE)))
        |          / (sqrt(list_sum(list_transform(a.embedding, x -> CAST(x AS DOUBLE)*CAST(x AS DOUBLE))))
        |             * sqrt(list_sum(list_transform(b.embedding, x -> CAST(x AS DOUBLE)*CAST(x AS DOUBLE))))) >= 0.35)
        |SELECT a.vec_id, a.cell,
        |       CAST(CASE WHEN r.vec_id IS NULL THEN 1 ELSE 0 END AS BIGINT) AS keep
        |FROM a1 a LEFT JOIN rm r ON a.vec_id = r.vec_id""".stripMargin,
    "s05_range_search" ->
      """WITH p AS (
        |  SELECT q.vec_id AS q_id, c.vec_id AS neighbor_id,
        |    list_sum(list_transform(list_zip(q.embedding, c.embedding), s -> CAST(s[1] AS DOUBLE)*CAST(s[2] AS DOUBLE))) AS dot,
        |    list_sum(list_transform(q.embedding, x -> CAST(x AS DOUBLE)*CAST(x AS DOUBLE))) AS nq,
        |    list_sum(list_transform(c.embedding, x -> CAST(x AS DOUBLE)*CAST(x AS DOUBLE))) AS nc
        |  FROM embeddings q JOIN embeddings c ON q.vec_id <> c.vec_id
        |  WHERE q.vec_id < 8)
        |SELECT q_id, neighbor_id, round(dot/(sqrt(nq)*sqrt(nc)), 4) AS cos
        |FROM p WHERE dot/(sqrt(nq)*sqrt(nc)) >= 0.35""".stripMargin,
    // d07 is the bucketed scale path for the same contract: the all-pairs
    // oracle doubles as a 100%-recall assertion on the LSH candidates
    "d07_embed_neardup_lsh" ->
      """WITH nm AS (
        |  SELECT vec_id, embedding,
        |    list_sum(list_transform(embedding, x -> CAST(x AS DOUBLE)*CAST(x AS DOUBLE))) AS n2
        |  FROM embeddings),
        |p AS (
        |  SELECT a.vec_id AS a, b.vec_id AS b,
        |    list_sum(list_transform(list_zip(a.embedding, b.embedding), s -> CAST(s[1] AS DOUBLE)*CAST(s[2] AS DOUBLE))) AS dot,
        |    a.n2 AS na, b.n2 AS nb
        |  FROM nm a JOIN nm b ON a.vec_id < b.vec_id)
        |SELECT a, b, round(dot/(sqrt(na)*sqrt(nb)), 4) AS cos
        |FROM p WHERE dot/(sqrt(na)*sqrt(nb)) >= 0.35""".stripMargin,
    "q30_incremental_agg" ->
      """SELECT event_type, count(*) AS n_rows,
        |       round(CAST(sum(CAST(round(value*100) AS BIGINT)) AS DOUBLE) / 100.0, 2) AS sum_value
        |FROM events GROUP BY event_type""".stripMargin,
    "q32_ship_priority" ->
      """SELECT o_orderkey, CAST(CAST(o_orderdate AS DATE) AS VARCHAR) AS o_date,
        |  CAST((rev4i + 50) // 100 AS DOUBLE) / 100.0 AS revenue
        |FROM (
        |  SELECT o_orderkey, o_orderdate,
        |         sum(CAST(round(l_extendedprice*100) AS BIGINT)
        |             * (100 - CAST(round(l_discount*100) AS BIGINT))) AS rev4i
        |  FROM lineitem
        |  JOIN orders ON l_orderkey = o_orderkey
        |  JOIN customer ON o_custkey = c_custkey
        |  WHERE c_mktsegment = 'BUILDING'
        |    AND o_orderdate < TIMESTAMP '1998-01-01'
        |    AND l_shipdate > TIMESTAMP '1998-01-01'
        |  GROUP BY o_orderkey, o_orderdate
        |  ORDER BY rev4i DESC, o_orderkey ASC LIMIT 10)""".stripMargin,
    "q34_nation_trade" ->
      """SELECT supp_nation, cust_nation, l_year,
        |       CAST(sum(vol4) AS DOUBLE) / 10000.0 AS revenue, count(*) AS n_items
        |FROM (SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
        |             CAST(year(l_shipdate) AS BIGINT) AS l_year,
        |             CAST(round(l_extendedprice * (1.0 - l_discount) * 10000) AS BIGINT) AS vol4
        |      FROM lineitem
        |      JOIN supplier ON l_suppkey = s_suppkey
        |      JOIN orders ON l_orderkey = o_orderkey
        |      JOIN customer ON o_custkey = c_custkey
        |      JOIN nation n1 ON s_nationkey = n1.n_nationkey
        |      JOIN nation n2 ON c_nationkey = n2.n_nationkey
        |      WHERE ((n1.n_name = 'NATION_1' AND n2.n_name = 'NATION_2')
        |          OR (n1.n_name = 'NATION_2' AND n2.n_name = 'NATION_1'))
        |        AND l_shipdate >= TIMESTAMP '1995-01-01'
        |        AND l_shipdate < TIMESTAMP '1997-01-01')
        |GROUP BY supp_nation, cust_nation, l_year""".stripMargin,
    "q35_returned_items" ->
      """SELECT c_custkey, c_name, rev4 / 10000.0 AS revenue, c_acctbal, n_name, n_items
        |FROM (SELECT c_custkey, c_name, c_acctbal, n_name,
        |             sum(CAST(round((l_extendedprice * (1.0 - l_discount)) * 10000) AS BIGINT)) AS rev4,
        |             count(*) AS n_items
        |      FROM lineitem
        |      JOIN orders ON l_orderkey = o_orderkey
        |      JOIN customer ON o_custkey = c_custkey
        |      JOIN nation ON c_nationkey = n_nationkey
        |      WHERE l_returnflag = 'R'
        |        AND o_orderdate >= TIMESTAMP '1996-01-01'
        |        AND o_orderdate < TIMESTAMP '1996-04-01'
        |      GROUP BY c_custkey, c_name, c_acctbal, n_name
        |      ORDER BY rev4 DESC, c_custkey ASC LIMIT 20)""".stripMargin,
    "q31_profile" ->
      """SELECT count(*) AS n_rows,
        |  count(user_id) AS nn_user_id, count(DISTINCT user_id) AS nd_user_id,
        |  count(event_type) AS nn_event_type, count(DISTINCT event_type) AS nd_event_type,
        |  min(value) AS min_value, max(value) AS max_value,
        |  round(CAST(sum(CAST(round(value*100) AS BIGINT)) AS DOUBLE) / 100.0, 2) AS sum_value
        |FROM events""".stripMargin,
    // transitive closure of the d05 pair graph via recursive CTE: min id
    // reachable = component's canonical id (same label-propagation fixpoint
    // the Spark loop converges to)
    "d06_dedup_clusters" ->
      """WITH RECURSIVE nm AS (
        |  SELECT vec_id, embedding,
        |    list_sum(list_transform(embedding, x -> CAST(x AS DOUBLE)*CAST(x AS DOUBLE))) AS n2
        |  FROM embeddings),
        |pr AS (
        |  SELECT a.vec_id AS a, b.vec_id AS b,
        |    list_sum(list_transform(list_zip(a.embedding, b.embedding), s -> CAST(s[1] AS DOUBLE)*CAST(s[2] AS DOUBLE))) AS dot,
        |    a.n2 AS na, b.n2 AS nb
        |  FROM nm a JOIN nm b ON a.vec_id < b.vec_id),
        |e AS (SELECT a, b FROM pr WHERE dot/(sqrt(na)*sqrt(nb)) >= 0.35),
        |sym AS (SELECT a AS u, b AS v FROM e UNION SELECT b, a FROM e),
        |reach(node, label) AS (
        |  SELECT u, u FROM (SELECT DISTINCT u FROM sym)
        |  UNION
        |  SELECT s.u, r.label FROM sym s JOIN reach r ON s.v = r.node)
        |SELECT node AS vec_id, min(label) AS cluster_id FROM reach GROUP BY node""".stripMargin,
    "s04_cluster_centroids" ->
      """WITH RECURSIVE nm AS (
        |  SELECT vec_id, embedding,
        |    list_sum(list_transform(embedding, x -> CAST(x AS DOUBLE)*CAST(x AS DOUBLE))) AS n2
        |  FROM embeddings),
        |pr AS (
        |  SELECT a.vec_id AS a, b.vec_id AS b,
        |    list_sum(list_transform(list_zip(a.embedding, b.embedding), s -> CAST(s[1] AS DOUBLE)*CAST(s[2] AS DOUBLE))) AS dot,
        |    a.n2 AS na, b.n2 AS nb
        |  FROM nm a JOIN nm b ON a.vec_id < b.vec_id),
        |e AS (SELECT a, b FROM pr WHERE dot/(sqrt(na)*sqrt(nb)) >= 0.35),
        |sym AS (SELECT a AS u, b AS v FROM e UNION SELECT b, a FROM e),
        |reach(node, label) AS (
        |  SELECT u, u FROM (SELECT DISTINCT u FROM sym)
        |  UNION
        |  SELECT s.u, r.label FROM sym s JOIN reach r ON s.v = r.node),
        |cl AS (SELECT node AS vec_id, min(label) AS cluster_id FROM reach GROUP BY node),
        |cells AS (
        |  SELECT cl.cluster_id, i - 1 AS dim,
        |         CAST(round(CAST(emb.embedding[CAST(i AS INTEGER)] AS DOUBLE) * 1000000) AS BIGINT) AS v6
        |  FROM cl JOIN embeddings emb ON cl.vec_id = emb.vec_id
        |  CROSS JOIN range(1, 65) t(i))
        |SELECT cluster_id, CAST(dim AS BIGINT) AS dim, count(*) AS n_members,
        |       CAST(sum(v6) AS DOUBLE) / (count(*) * 1000000) AS centroid
        |FROM cells GROUP BY cluster_id, dim""".stripMargin,
    "s01_ann_brute" ->
      """WITH q AS (SELECT * FROM embeddings WHERE vec_id < 8),
        |scored AS (
        |  SELECT q.vec_id AS q_id, c.vec_id AS neighbor_id,
        |    list_sum(list_transform(list_zip(q.embedding, c.embedding), s -> CAST(s[1] AS DOUBLE)*CAST(s[2] AS DOUBLE)))
        |      / (sqrt(list_sum(list_transform(q.embedding, x -> CAST(x AS DOUBLE)*CAST(x AS DOUBLE))))
        |         * sqrt(list_sum(list_transform(c.embedding, x -> CAST(x AS DOUBLE)*CAST(x AS DOUBLE))))) AS cos
        |  FROM q JOIN embeddings c ON c.vec_id <> q.vec_id),
        |r AS (SELECT q_id, neighbor_id, cos,
        |             row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, neighbor_id ASC) AS rnk
        |      FROM scored)
        |SELECT q_id, neighbor_id, round(cos, 4) AS cos, CAST(rnk AS BIGINT) AS "rank"
        |FROM r WHERE rnk <= 5""".stripMargin,
    "t01_langid" -> {
      val tokSql = "list_filter(string_split_regex(lower(trim(text)), '\\s+'), x -> x <> '')"
      def score(words: Seq[String]): String = {
        val arr = words.map(w => s"'$w'").mkString("[", ", ", "]")
        s"len(list_filter($tokSql, t -> list_contains($arr, t)))"
      }
      val scores = TextFns.langMarkers.map { case (lang, words) => lang -> score(words) }
      val maxExpr = s"greatest(${scores.map(_._2).mkString(", ")})"
      val cases = scores
        .map { case (lang, s) => s"WHEN $s = m AND m > 0 THEN '$lang'" }
        .mkString(" ")
      s"""SELECT doc_id, CASE $cases ELSE 'und' END AS pred_lang
         |FROM (SELECT doc_id, text, $maxExpr AS m FROM documents)""".stripMargin
    },
    "t02_quality" -> {
      val tokSql = "list_filter(string_split_regex(lower(trim(text)), '\\s+'), x -> x <> '')"
      val stopArr = TextFns.langMarkers.head._2.map(w => s"'$w'").mkString("[", ", ", "]")
      s"""SELECT doc_id,
         |  CAST(len(toks) AS BIGINT) AS n_tokens,
         |  CASE WHEN len(toks) > 0 THEN CAST((2*CAST(coalesce(list_sum(list_transform(toks, t -> length(t))), 0) AS BIGINT)*10000 + len(toks)) // (2*len(toks)) AS DOUBLE) / 10000.0 ELSE 0.0 END AS mean_token_len,
         |  CASE WHEN length(text) > 0 THEN CAST((2*CAST(len(regexp_extract_all(text, '[.,!?;:]')) AS BIGINT)*10000 + length(text)) // (2*length(text)) AS DOUBLE) / 10000.0 ELSE 0.0 END AS punct_ratio,
         |  CASE WHEN len(toks) > 0 THEN CAST((2*CAST(len(list_filter(toks, t -> list_contains($stopArr, t))) AS BIGINT)*10000 + len(toks)) // (2*len(toks)) AS DOUBLE) / 10000.0 ELSE 0.0 END AS stopword_ratio
         |FROM (SELECT doc_id, text, $tokSql AS toks FROM documents)""".stripMargin
    },
    "q20_json_struct" ->
      """SELECT CAST(json_extract_string(props, '$.k') AS BIGINT) % 10 AS k_bucket, count(*) AS n
        |FROM events GROUP BY 1""".stripMargin,
    "m02_frame_sample" ->
      """SELECT i AS media_id, CAST(i % 4 + 1 AS BIGINT) AS n_frames,
        |       CAST((i % 4 + 2) // 2 AS BIGINT) AS n_sampled
        |FROM range(0, 600) t(i) WHERE i % 3 = 2""".stripMargin,
    // the stub decode is a closed-form model over (media_id, payload byte
    // length); strlen(text) reproduces the UTF-8 byte count of the payload
    "m01_multimodal" ->
      """WITH m AS (
        |  SELECT doc_id,
        |         CASE CAST(doc_id % 3 AS INTEGER) WHEN 0 THEN 'image' WHEN 1 THEN 'audio' ELSE 'video' END AS kind,
        |         CAST(strlen(text) AS BIGINT) AS payload_bytes
        |  FROM documents),
        |f AS (
        |  SELECT kind, payload_bytes,
        |         ((doc_id * 31 + payload_bytes) % 64) + 1 AS n_frames,
        |         ((doc_id * 17 + payload_bytes * 13) % 10000) / 10000.0 AS mean_luma
        |  FROM m)
        |SELECT kind, count(*) AS n_media, CAST(sum(payload_bytes) AS BIGINT) AS total_bytes,
        |       round(avg(n_frames), 4) AS avg_frames, round(avg(mean_luma), 4) AS avg_luma
        |FROM f GROUP BY kind""".stripMargin,
    // same injection arithmetic as the Spark side; regexes are in the
    // Java/RE2-common subset so both engines match byte-identically
    "t10_pii_redact" ->
      """WITH inj AS (
        |  SELECT doc_id,
        |         text || CASE CAST(doc_id % 5 AS INTEGER)
        |           WHEN 0 THEN ' contact u' || CAST(doc_id AS VARCHAR) || '@example.com now'
        |           WHEN 1 THEN ' call 1-555-010-' || lpad(CAST(doc_id % 100 AS VARCHAR), 2, '0') || ' today'
        |           WHEN 2 THEN ' from 10.0.' || CAST(doc_id % 256 AS VARCHAR) || '.' || CAST(doc_id % 100 AS VARCHAR) || ' logged'
        |           ELSE '' END AS text
        |  FROM documents),
        |b AS (
        |  SELECT doc_id, text,
        |         regexp_replace(text, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', ' ', 'g') AS no_mail
        |  FROM inj),
        |c AS (
        |  SELECT *, regexp_replace(no_mail, '([0-9]{1,3}\.){3}[0-9]{1,3}', ' ', 'g') AS no_ip FROM b)
        |SELECT doc_id,
        |  regexp_replace(regexp_replace(regexp_replace(text,
        |    '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
        |    '([0-9]{1,3}\.){3}[0-9]{1,3}', '<IP>', 'g'),
        |    '\+?[0-9][0-9 -]{7,}[0-9]', '<PHONE>', 'g') AS clean_text,
        |  CAST(len(regexp_extract_all(text, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS BIGINT) AS n_emails,
        |  CAST(len(regexp_extract_all(no_ip, '\+?[0-9][0-9 -]{7,}[0-9]')) AS BIGINT) AS n_phones,
        |  CAST(len(regexp_extract_all(no_mail, '([0-9]{1,3}\.){3}[0-9]{1,3}')) AS BIGINT) AS n_ips
        |FROM c""".stripMargin,
    "t09_repetition" ->
      """WITH toks AS (
        |  SELECT doc_id,
        |         unnest(list_filter(string_split_regex(lower(trim(text)), '\s+'), t -> t <> '')) AS tok
        |  FROM documents),
        |c AS (SELECT doc_id, tok, count(*) AS c FROM toks GROUP BY doc_id, tok)
        |SELECT doc_id,
        |       CAST(sum(c) AS BIGINT) AS n_tokens,
        |       count(*) AS n_distinct,
        |       CAST((2*(sum(c) - count(*))*10000 + sum(c)) // (2*sum(c)) AS DOUBLE) / 10000.0 AS dup_token_frac,
        |       CAST((2*max(c)*10000 + sum(c)) // (2*sum(c)) AS DOUBLE) / 10000.0 AS top_token_frac
        |FROM c GROUP BY doc_id""".stripMargin,
    // same set-identity trick as d04: the kernel's shingle hashing is a
    // collision-free set identity on this corpus, so the oracle works on
    // the shingle STRINGS directly
    "t08_contamination" ->
      """WITH toks AS (
        |  SELECT doc_id,
        |         list_filter(string_split_regex(lower(trim(text)), '\s+'), t -> t <> '') AS tk
        |  FROM documents),
        |sets AS (
        |  SELECT doc_id,
        |         list_distinct(CASE WHEN len(tk) <= 5 THEN [array_to_string(tk, ' ')]
        |              ELSE list_transform(range(1, len(tk) - 3), i -> array_to_string(tk[i:i+4], ' ')) END) AS sh
        |  FROM toks),
        |ev AS (SELECT DISTINCT unnest(sh) AS g FROM sets WHERE doc_id < 20),
        |hits AS (
        |  SELECT s.doc_id, t.g
        |  FROM sets s, unnest(s.sh) AS t(g)
        |  WHERE s.doc_id >= 20 AND t.g IN (SELECT g FROM ev))
        |SELECT doc_id, count(DISTINCT g) AS n_shared_shingles
        |FROM hits GROUP BY doc_id""".stripMargin,
    // every fingerprint bit re-derived from the generator model:
    // pix(i) = (id*31 + i*17) % 251, the byte round-trip is exact for
    // 0..250 via & 0xFF, and the aHash test pix*n > sum is all-integer
    "m06_frame_phash" ->
      """WITH m AS (
        |  SELECT i AS media_id,
        |         (i % 7 + 2) * (i % 5 + 2) *
        |           (CASE WHEN i % 3 = 1 THEN 1 ELSE 3 END) AS n,
        |         CASE WHEN i % 3 = 2 THEN i % 4 + 1 ELSE 1 END AS frames
        |  FROM range(0, 600) t(i)),
        |fr AS (SELECT media_id, n, unnest(generate_series(0, frames - 1)) AS f FROM m),
        |px AS (SELECT media_id, n, f, unnest(generate_series(0, n - 1)) AS k FROM fr),
        |v AS (SELECT media_id, f, n, k,
        |             (media_id * 31 + (f * n + k) * 17) % 251 AS pix
        |      FROM px),
        |s AS (SELECT media_id, f, CAST(sum(pix) AS BIGINT) AS psum FROM v GROUP BY 1, 2)
        |SELECT v.media_id, CAST(v.f AS BIGINT) AS frame_idx,
        |       CAST(sum(CASE WHEN v.k >= 64 OR v.pix * v.n <= s.psum THEN 0
        |                     WHEN v.k = 63 THEN CAST(-9223372036854775807 AS BIGINT) - 1
        |                     ELSE CAST(1 AS BIGINT) << CAST(v.k AS INT) END) AS BIGINT) AS fingerprint
        |FROM v JOIN s ON v.media_id = s.media_id AND v.f = s.f
        |GROUP BY 1, 2""".stripMargin,
    "m07_frame_neardup" ->
      """WITH m AS (
        |  SELECT i AS media_id,
        |         (i % 7 + 2) * (i % 5 + 2) *
        |           (CASE WHEN i % 3 = 1 THEN 1 ELSE 3 END) AS n,
        |         CASE WHEN i % 3 = 2 THEN i % 4 + 1 ELSE 1 END AS frames
        |  FROM range(0, 600) t(i)),
        |fr AS (SELECT media_id, n, unnest(generate_series(0, frames - 1)) AS f FROM m),
        |px AS (SELECT media_id, n, f, unnest(generate_series(0, n - 1)) AS k FROM fr),
        |v AS (SELECT media_id, f, n, k,
        |             (media_id * 31 + (f * n + k) * 17) % 251 AS pix
        |      FROM px),
        |s AS (SELECT media_id, f, CAST(sum(pix) AS BIGINT) AS psum FROM v GROUP BY 1, 2),
        |sig AS (
        |  SELECT v.media_id, CAST(v.f AS BIGINT) AS frame_idx,
        |         CAST(sum(CASE WHEN v.k >= 64 OR v.pix * v.n <= s.psum THEN 0
        |                       WHEN v.k = 63 THEN CAST(-9223372036854775807 AS BIGINT) - 1
        |                       ELSE CAST(1 AS BIGINT) << CAST(v.k AS INT) END) AS BIGINT) AS fp
        |  FROM v JOIN s ON v.media_id = s.media_id AND v.f = s.f
        |  GROUP BY 1, 2)
        |SELECT x.media_id AS a_media, x.frame_idx AS a_frame,
        |       y.media_id AS b_media, y.frame_idx AS b_frame,
        |       CAST(bit_count(xor(x.fp, y.fp)) AS INT) AS hamming
        |FROM sig x JOIN sig y
        |  ON (x.media_id < y.media_id OR (x.media_id = y.media_id AND x.frame_idx < y.frame_idx))
        |WHERE bit_count(xor(x.fp, y.fp)) <= 3""".stripMargin,
    "m05_audio_windows" ->
      """SELECT i AS media_id,
        |       CAST(len AS BIGINT) AS n_samples,
        |       CAST(CASE WHEN len >= 16 THEN (len - 16) // 8 + 1 ELSE 0 END AS BIGINT) AS n_windows
        |FROM (SELECT i, (i % 7 + 2) * (i % 5 + 2) AS len
        |      FROM range(0, 600) t(i) WHERE i % 3 = 1)""".stripMargin,
    "m04_raw_decode" ->
      """WITH d AS (
        |  SELECT i AS media_id,
        |         CASE CAST(i % 3 AS INTEGER) WHEN 0 THEN 'image' WHEN 1 THEN 'audio' ELSE 'video' END AS kind,
        |         (i % 7 + 2) * (i % 5 + 2)
        |           * (CASE WHEN i % 3 = 1 THEN 1 ELSE 3 END)
        |           * (CASE WHEN i % 3 = 2 THEN i % 4 + 1 ELSE 1 END) AS len,
        |         CASE WHEN i % 3 = 2 THEN i % 4 + 1 ELSE 1 END AS frames
        |  FROM range(0, 600) t(i)),
        |s AS (SELECT media_id, kind, len, frames,
        |             list_transform(range(0, len), x -> (media_id * 31 + x * 17) % 251) AS smp
        |      FROM d)
        |SELECT media_id, kind,
        |       CAST(9 + len AS BIGINT) AS payload_bytes,
        |       CAST(frames AS INTEGER) AS n_frames,
        |       CAST(list_sum(smp) AS DOUBLE) / len AS mean_sample,
        |       CAST(list_min(smp) AS INTEGER) AS min_sample,
        |       CAST(list_max(smp) AS INTEGER) AS max_sample
        |FROM s""".stripMargin,
    "t05_normalize" -> {
      val norm = NormalizeSql
      s"""SELECT doc_id, norm_text,
         |  CAST(len(regexp_extract_all(text, '<[^>]*>'))
         |     + len(regexp_extract_all(text, 'https?://[^ \\t\\n\\r]+'))
         |     + len(regexp_extract_all(text, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}')) AS BIGINT) AS n_noise,
         |  CAST(length(norm_text) AS BIGINT) AS n_chars_norm
         |FROM (SELECT doc_id, text, $norm AS norm_text FROM documents)""".stripMargin
    },
    "t12_sequence_pack" ->
      """WITH toks AS (
        |  SELECT doc_id, source,
        |         CAST(len(list_filter(string_split_regex(lower(trim(text)), '\s+'), x -> x <> '')) AS BIGINT) AS n_tokens
        |  FROM documents),
        |packed AS (
        |  SELECT doc_id, source, n_tokens,
        |         CAST((sum(n_tokens) OVER (PARTITION BY source ORDER BY doc_id) - n_tokens) // 512 AS BIGINT) AS pack_id
        |  FROM toks)
        |SELECT source, pack_id, count(*) AS n_docs, CAST(sum(n_tokens) AS BIGINT) AS pack_tokens,
        |       min(doc_id) AS first_doc, max(doc_id) AS last_doc
        |FROM packed GROUP BY source, pack_id""".stripMargin,
    "t11_curation" -> {
      s"""WITH norm AS (SELECT doc_id, lang, $NormalizeSql AS norm_text FROM documents),
         |tok AS (
         |  SELECT doc_id, lang, norm_text,
         |         CAST(len(list_filter(string_split_regex(norm_text, '\\s+'), t -> t <> '')) AS BIGINT) AS n_tokens
         |  FROM norm),
         |gated AS (SELECT * FROM tok WHERE n_tokens >= 5),
         |canon AS (SELECT min(doc_id) AS doc_id FROM gated GROUP BY norm_text)
         |SELECT g.doc_id, g.lang, g.n_tokens
         |FROM gated g JOIN canon c ON g.doc_id = c.doc_id
         |WHERE g.doc_id % 100 < (CASE WHEN g.lang = 'en' THEN 30 ELSE 100 END)""".stripMargin
    },
    "t06_stratified_sample" ->
      """SELECT lang, count(*) AS n_docs, CAST(sum(n_chars) AS BIGINT) AS sum_chars
        |FROM documents
        |WHERE doc_id % 100 < (CASE WHEN lang = 'en' THEN 30 ELSE 100 END)
        |GROUP BY lang""".stripMargin,
    "t07_cap_per_source" ->
      """SELECT source, lang, count(*) AS n_kept, max(doc_id) AS max_kept_id
        |FROM (SELECT source, lang, doc_id,
        |             row_number() OVER (PARTITION BY source, lang ORDER BY doc_id ASC) AS rn
        |      FROM documents)
        |WHERE rn <= 25
        |GROUP BY source, lang""".stripMargin,
    "q36_cheapest_supplier" ->
      """WITH r AS (SELECT l_partkey, l_suppkey, l_extendedprice,
        |                  row_number() OVER (PARTITION BY l_partkey ORDER BY l_extendedprice ASC, l_suppkey ASC) AS rn,
        |                  count(*) OVER (PARTITION BY l_partkey) AS n_quotes,
        |                  min(l_extendedprice) OVER (PARTITION BY l_partkey) AS best_price
        |           FROM lineitem)
        |SELECT l_partkey AS partkey, p_brand, s_name, best_price, n_quotes
        |FROM r JOIN part ON l_partkey = p_partkey JOIN supplier ON l_suppkey = s_suppkey
        |WHERE rn = 1""".stripMargin,
    "q40_market_share" ->
      """SELECT o_year,
        |       CAST((2*CAST(t4 AS HUGEINT)*1000000 + a4) // (2*a4) AS DOUBLE) / 1000000.0 AS mkt_share,
        |       CAST(a4 AS DOUBLE) / 10000.0 AS total_revenue
        |FROM (
        |  SELECT CAST(year(o_orderdate) AS BIGINT) AS o_year,
        |         CAST(sum(CASE WHEN n2.n_name = 'NATION_2'
        |                       THEN CAST(round(l_extendedprice * (1.0 - l_discount) * 10000) AS BIGINT)
        |                       ELSE 0 END) AS BIGINT) AS t4,
        |         CAST(sum(CAST(round(l_extendedprice * (1.0 - l_discount) * 10000) AS BIGINT)) AS BIGINT) AS a4
        |  FROM lineitem
        |  JOIN part ON l_partkey = p_partkey AND p_type = 'ECONOMY'
        |  JOIN supplier ON l_suppkey = s_suppkey
        |  JOIN nation n2 ON s_nationkey = n2.n_nationkey
        |  JOIN orders ON l_orderkey = o_orderkey
        |  JOIN customer ON o_custkey = c_custkey
        |  JOIN nation n1 ON c_nationkey = n1.n_nationkey
        |  JOIN region ON n1.n_regionkey = r_regionkey AND r_name = 'ASIA'
        |  GROUP BY 1)""".stripMargin,
    "q41_product_profit" ->
      """SELECT n_name AS nation, CAST(year(o_orderdate) AS BIGINT) AS o_year,
        |       CAST(sum(CAST(round((l_extendedprice * (1.0 - l_discount)
        |                 - 0.1 * p_retailprice * l_quantity) * 10000) AS BIGINT)) AS DOUBLE) / 10000.0 AS profit,
        |       count(*) AS n_items
        |FROM lineitem
        |JOIN part ON l_partkey = p_partkey AND p_name LIKE '%bolt%'
        |JOIN supplier ON l_suppkey = s_suppkey
        |JOIN nation ON s_nationkey = n_nationkey
        |JOIN orders ON l_orderkey = o_orderkey
        |GROUP BY 1, 2""".stripMargin,
    "q42_cust_order_dist" ->
      """SELECT CAST(coalesce(n, 0) AS BIGINT) AS c_orders, count(*) AS custdist
        |FROM customer
        |LEFT JOIN (SELECT o_custkey, count(*) AS n FROM orders
        |           WHERE o_orderstatus <> 'F' GROUP BY 1) o
        |  ON c_custkey = o_custkey
        |GROUP BY 1""".stripMargin,
    "q43_idle_customers" ->
      """WITH s AS (
        |  SELECT CAST(sum(CAST(round(c_acctbal * 100) AS BIGINT)) AS BIGINT) AS sum2,
        |         count(*) AS n_pos
        |  FROM customer WHERE c_acctbal > 0.0),
        |rich AS (
        |  SELECT c.c_mktsegment, CAST(round(c.c_acctbal * 100) AS BIGINT) AS bal2
        |  FROM customer c, s
        |  WHERE CAST(round(c.c_acctbal * 100) AS BIGINT) * s.n_pos > s.sum2
        |    AND NOT EXISTS (SELECT 1 FROM orders
        |                    WHERE o_custkey = c.c_custkey
        |                      AND o_orderdate >= TIMESTAMP '1999-01-01 00:00:00'))
        |SELECT c_mktsegment, count(*) AS n_cust,
        |       CAST(sum(bal2) AS DOUBLE) / 100.0 AS total_bal
        |FROM rich GROUP BY 1""".stripMargin,
    "q50_rolling_active" ->
      """WITH ud AS (SELECT DISTINCT user_id, epoch_us(ts) // 86400000000 AS day FROM events),
        |cover AS (SELECT DISTINCT user_id, day + i AS wday
        |          FROM ud, unnest(generate_series(0, 6)) t(i)),
        |days AS (SELECT DISTINCT day FROM ud),
        |wau AS (SELECT d.day, count(*) AS wau FROM days d JOIN cover c ON c.wday = d.day GROUP BY 1),
        |dau AS (SELECT day, count(*) AS dau FROM ud GROUP BY 1)
        |SELECT w.day AS day_idx, dau, wau FROM wau w JOIN dau USING (day)""".stripMargin,
    "q47_gap_fill" ->
      """WITH daily AS (
        |  SELECT user_id, epoch_us(ts) // 86400000000 AS day, count(*) AS n_events,
        |         sum(CAST(round(value * 100) AS BIGINT)) AS v2
        |  FROM events GROUP BY 1, 2),
        |spans AS (SELECT user_id, min(day) AS d0, max(day) AS d1 FROM daily GROUP BY 1),
        |alldays AS (SELECT user_id, unnest(generate_series(d0, d1)) AS day FROM spans),
        |j AS (SELECT a.user_id, a.day, d.n_events, d.v2
        |      FROM alldays a LEFT JOIN daily d USING (user_id, day))
        |SELECT user_id, day AS day_idx,
        |       CAST(coalesce(n_events, 0) AS BIGINT) AS n_events,
        |       CAST(last_value(v2 IGNORE NULLS) OVER (
        |              PARTITION BY user_id ORDER BY day
        |              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE) / 100.0
        |         AS filled_value
        |FROM j""".stripMargin,
    "q48_revenue_forecast" ->
      """SELECT CAST(sum(CAST(round(l_extendedprice * l_discount * 10000) AS BIGINT)) AS DOUBLE) / 10000.0 AS revenue,
        |       count(*) AS n_items
        |FROM lineitem
        |WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
        |  AND l_shipdate < TIMESTAMP '1997-01-01 00:00:00'
        |  AND l_discount BETWEEN 0.02 AND 0.04 AND l_quantity < 24""".stripMargin,
    "q49_promo_share" ->
      """SELECT l_year,
        |       CAST((2*CAST(p4 AS HUGEINT)*1000000 + a4) // (2*a4) AS DOUBLE) / 1000000.0 AS promo_share,
        |       CAST(p4 AS DOUBLE) / 10000.0 AS promo_revenue
        |FROM (
        |  SELECT CAST(year(l_shipdate) AS BIGINT) AS l_year,
        |         CAST(sum(CASE WHEN p_type = 'PROMO'
        |                       THEN CAST(round(l_extendedprice * (1.0 - l_discount) * 10000) AS BIGINT)
        |                       ELSE 0 END) AS BIGINT) AS p4,
        |         CAST(sum(CAST(round(l_extendedprice * (1.0 - l_discount) * 10000) AS BIGINT)) AS BIGINT) AS a4
        |  FROM lineitem JOIN part ON l_partkey = p_partkey
        |  GROUP BY 1)""".stripMargin,
    "q55_disjunctive_revenue" ->
      """WITH li AS (
        |  SELECT l_partkey,
        |         CAST(round(l_quantity * 100) AS BIGINT) AS q2,
        |         CAST(round(l_extendedprice * (1.0 - l_discount) * 10000) AS BIGINT) AS vol4
        |  FROM lineitem)
        |SELECT CAST(sum(vol4) AS DOUBLE) / 10000.0 AS revenue, count(*) AS n_items
        |FROM li JOIN part ON l_partkey = p_partkey
        |WHERE (p_brand = 'Brand#1' AND p_size BETWEEN 1 AND 10 AND q2 BETWEEN 500 AND 2000)
        |   OR (p_brand = 'Brand#2' AND p_size BETWEEN 5 AND 20 AND q2 BETWEEN 1000 AND 3000)
        |   OR (p_brand = 'Brand#3' AND p_size BETWEEN 10 AND 40 AND q2 BETWEEN 2000 AND 5000)""".stripMargin,
    "q56_top_supplier" ->
      """WITH rev AS (
        |  SELECT l_suppkey,
        |         CAST(sum(CAST(round(l_extendedprice * (1.0 - l_discount) * 10000) AS BIGINT)) AS BIGINT) AS rev4
        |  FROM lineitem
        |  WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
        |    AND l_shipdate < TIMESTAMP '1996-04-01 00:00:00'
        |  GROUP BY 1)
        |SELECT s_name, l_suppkey AS suppkey, CAST(rev4 AS DOUBLE) / 10000.0 AS total_revenue
        |FROM rev JOIN supplier ON l_suppkey = s_suppkey
        |WHERE rev4 = (SELECT max(rev4) FROM rev)""".stripMargin,
    "q58_event_pivot" ->
      """SELECT user_id,
        |       count(*) FILTER (WHERE event_type = 'click') AS click,
        |       count(*) FILTER (WHERE event_type = 'error') AS error,
        |       count(*) FILTER (WHERE event_type = 'purchase') AS purchase,
        |       count(*) FILTER (WHERE event_type = 'signup') AS signup,
        |       count(*) FILTER (WHERE event_type = 'view') AS view
        |FROM events GROUP BY 1""".stripMargin,
    "q59_cube_volume" ->
      """SELECT coalesce(p_brand, 'ALL') AS brand,
        |       coalesce(CAST(l_year AS VARCHAR), 'ALL') AS year,
        |       count(*) AS n_items,
        |       CAST(sum(q2) AS DOUBLE) / 100.0 AS total_qty
        |FROM (SELECT p_brand, CAST(year(l_shipdate) AS BIGINT) AS l_year,
        |             CAST(round(l_quantity * 100) AS BIGINT) AS q2
        |      FROM lineitem JOIN part ON l_partkey = p_partkey)
        |GROUP BY CUBE(p_brand, l_year)""".stripMargin,
    "q53_small_order_revenue" ->
      """WITH li AS (
        |  SELECT l_partkey,
        |         CAST(round(l_quantity * 100) AS BIGINT) AS q2,
        |         CAST(round(l_extendedprice * 100) AS BIGINT) AS p2
        |  FROM lineitem),
        |pp AS (SELECT l_partkey, CAST(sum(q2) AS BIGINT) AS sumq2, count(*) AS cnt
        |       FROM li GROUP BY 1)
        |SELECT CAST(sum(li.p2) AS DOUBLE) / 100.0 AS below_avg_revenue,
        |       count(*) AS n_items
        |FROM li
        |JOIN part ON li.l_partkey = p_partkey AND p_brand = 'Brand#1'
        |JOIN pp ON li.l_partkey = pp.l_partkey
        |WHERE 5 * li.q2 * pp.cnt < pp.sumq2""".stripMargin,
    "q54_large_orders" ->
      """WITH big AS (
        |  SELECT l_orderkey, CAST(sum(CAST(round(l_quantity * 100) AS BIGINT)) AS BIGINT) AS sumq2,
        |         count(*) AS n_items
        |  FROM lineitem GROUP BY 1
        |  HAVING sum(CAST(round(l_quantity * 100) AS BIGINT)) > 20000)
        |SELECT c_name, o_custkey AS custkey, l_orderkey AS orderkey,
        |       CAST(sumq2 AS DOUBLE) / 100.0 AS total_qty, n_items
        |FROM big
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |ORDER BY total_qty DESC, orderkey ASC
        |LIMIT 20""".stripMargin,
    "q46_retention_cohorts" ->
      """WITH cohort AS (
        |  SELECT user_id, min(epoch_us(ts)) // 604800000000 AS w0
        |  FROM events WHERE event_type = 'signup' GROUP BY 1),
        |act AS (SELECT DISTINCT user_id, epoch_us(ts) // 604800000000 AS w FROM events)
        |SELECT w0 AS cohort_week, w - w0 AS week_offset, count(*) AS n_active
        |FROM cohort JOIN act USING (user_id)
        |WHERE w >= w0
        |GROUP BY 1, 2""".stripMargin,
    "t16_vocab_top" ->
      """SELECT tok, count(*) AS cnt
        |FROM (SELECT unnest(list_filter(string_split_regex(lower(trim(text)), '\s+'), t -> t <> '')) AS tok
        |      FROM documents)
        |GROUP BY 1 ORDER BY cnt DESC, tok ASC LIMIT 20""".stripMargin,
    "t15_chunk_plan" ->
      """WITH t AS (
        |  SELECT doc_id,
        |         len(list_filter(string_split_regex(lower(trim(text)), '\s+'), x -> x <> '')) AS n_tok
        |  FROM documents),
        |n AS (SELECT doc_id, n_tok,
        |             CASE WHEN n_tok <= 128 THEN 1 ELSE 1 + (n_tok - 128 + 95) // 96 END AS n_chunks
        |      FROM t),
        |c AS (SELECT doc_id, n_tok, unnest(generate_series(0, n_chunks - 1)) AS chunk_idx FROM n)
        |SELECT doc_id, chunk_idx,
        |       CAST(chunk_idx * 96 AS BIGINT) AS start_tok,
        |       CAST(least(128, n_tok - chunk_idx * 96) AS BIGINT) AS n_tok_chunk
        |FROM c""".stripMargin,
    "t14_mixture_sample" ->
      """WITH d AS (
        |  SELECT doc_id, source, n_chars,
        |         (CAST(substring(source, 4) AS BIGINT) % 4) * 10 + 10 AS wt
        |  FROM documents),
        |stats AS (SELECT source, any_value(wt) AS wt, count(*) AS cnt FROM d GROUP BY 1),
        |lam AS (SELECT min((cnt * 10000) // wt) AS lam FROM stats),
        |keeps AS (SELECT source, (l.lam * wt) // 10000 AS keep FROM stats, lam l),
        |r AS (SELECT doc_id, source, n_chars,
        |             row_number() OVER (PARTITION BY source ORDER BY doc_id) AS rn
        |      FROM d)
        |SELECT r.source, count(*) AS n_kept, CAST(sum(n_chars) AS BIGINT) AS sum_chars_kept
        |FROM r JOIN keeps k ON r.source = k.source
        |WHERE rn <= k.keep
        |GROUP BY 1""".stripMargin,
    "t13_url_domains" ->
      """WITH injected AS (
        |  SELECT doc_id,
        |         text
        |         || CASE WHEN doc_id % 4 < 3
        |                 THEN ' via https://site' || (doc_id % 7) || '.example' || (doc_id % 3)
        |                      || '.com/p/' || (doc_id % 11)
        |                 ELSE '' END
        |         || CASE WHEN doc_id % 8 = 0
        |                 THEN ' and http://mirror' || (doc_id % 5) || '.example.org/q'
        |                 ELSE '' END AS text
        |  FROM documents),
        |urls AS (
        |  SELECT doc_id, unnest(regexp_extract_all(text, 'https?://([a-zA-Z0-9.-]+)', 1)) AS domain
        |  FROM injected)
        |SELECT domain, count(DISTINCT doc_id) AS n_docs, count(*) AS n_urls,
        |       min(doc_id) AS first_doc
        |FROM urls GROUP BY 1""".stripMargin,
    "q44_rolling_metrics" ->
      """SELECT user_id, event_id, epoch_us(ts) AS ts_us,
        |       count(*) OVER w AS n_24h,
        |       CAST(sum(CAST(round(value * 100) AS BIGINT)) OVER w AS DOUBLE) / 100.0 AS sum_value_24h
        |FROM events
        |WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(ts)
        |             RANGE BETWEEN 86400000000 PRECEDING AND CURRENT ROW)""".stripMargin,
    "q45_funnel" ->
      """WITH u AS (
        |  SELECT user_id,
        |         min(CASE WHEN event_type = 'signup' THEN epoch_us(ts) END) AS t_signup,
        |         min(CASE WHEN event_type = 'click' THEN epoch_us(ts) END) AS t_click,
        |         min(CASE WHEN event_type = 'purchase' THEN epoch_us(ts) END) AS t_purchase
        |  FROM events GROUP BY 1)
        |SELECT CAST(CASE WHEN t_signup IS NULL THEN 0
        |            WHEN t_click IS NULL OR t_click <= t_signup THEN 1
        |            WHEN t_purchase IS NULL OR t_purchase <= t_click THEN 2
        |            ELSE 3 END AS BIGINT) AS stage,
        |       count(*) AS n_users
        |FROM u GROUP BY 1""".stripMargin,
    "q21_asof_join" ->
      """WITH p AS (SELECT o_orderkey, o_custkey % 100 AS uid,
        |                  1704067200000000 + (epoch_ms(o_orderdate) % 2592000000) * 1000 AS t_us
        |           FROM orders),
        |b AS (SELECT user_id AS uid, epoch_us(ts) AS ts_us, event_id, value FROM events)
        |SELECT p.o_orderkey, p.uid, p.t_us, b.event_id AS asof_event_id, b.value AS asof_value
        |FROM p ASOF LEFT JOIN b ON p.uid = b.uid AND b.ts_us <= p.t_us""".stripMargin,
    "q28_asof_native" ->
      """WITH p AS (SELECT o_orderkey, o_custkey % 100 AS uid,
        |                  1704067200000000 + (epoch_ms(o_orderdate) % 2592000000) * 1000 AS t_us
        |           FROM orders),
        |b AS (SELECT user_id AS uid, epoch_us(ts) AS ts_us, event_id, value FROM events)
        |SELECT p.o_orderkey, p.uid, p.t_us, b.event_id AS asof_event_id, b.value AS asof_value
        |FROM p ASOF LEFT JOIN b ON p.uid = b.uid AND b.ts_us <= p.t_us""".stripMargin,
    "q22_range_join" ->
      """SELECT CAST(band_id AS BIGINT) AS band_id, count(*) AS n,
        |       round(CAST(sum(CAST(round(value*100) AS BIGINT)) AS DOUBLE) / 100.0, 2) AS sum_value
        |FROM events
        |JOIN (VALUES (0,0.0,50.0),(1,50.0,100.0),(2,100.0,150.0),(3,150.0,200.0),(4,200.0,1000000000.0))
        |  AS r(band_id, lo, hi)
        |ON value >= lo AND value < hi
        |GROUP BY band_id""".stripMargin,
    "q23_tumbling_daily" ->
      """SELECT epoch_us(ts) // 86400000000 AS day_idx, count(*) AS n,
        |       round(CAST(sum(CAST(round(value*100) AS BIGINT)) AS DOUBLE) / 100.0, 2) AS sum_value
        |FROM events GROUP BY 1""".stripMargin,
    "q24_scd2_intervals" ->
      """SELECT user_id, event_id, epoch_us(ts) AS valid_from,
        |       lead(epoch_us(ts)) OVER w AS valid_to,
        |       lead(epoch_us(ts)) OVER w IS NULL AS is_current
        |FROM events
        |WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(ts) ASC, event_id ASC)""".stripMargin,
    "q25_mutual_edges" ->
      """WITH e AS (
        |  SELECT DISTINCT user_id AS s, CAST(json_extract_string(props, '$.k') AS BIGINT) % 150 AS d
        |  FROM events
        |  WHERE json_extract_string(props, '$.k') IS NOT NULL AND user_id <> CAST(json_extract_string(props, '$.k') AS BIGINT) % 150)
        |SELECT f.a, f.b
        |FROM (SELECT s AS a, d AS b FROM e WHERE s < d) f
        |JOIN (SELECT d AS a, s AS b FROM e WHERE s > d) r USING (a, b)""".stripMargin,
    // same canonical-undirected edge set as q25; the oracle mirrors the
    // (degree, id) orientation with row-value comparison, so the wedge
    // count (not just the triangle count) is engine-identical
    "q51_triangles" ->
      """WITH ed AS (
        |  SELECT DISTINCT least(s, d) AS u, greatest(s, d) AS v
        |  FROM (SELECT user_id AS s, CAST(json_extract_string(props, '$.k') AS BIGINT) % 150 AS d
        |        FROM events WHERE json_extract_string(props, '$.k') IS NOT NULL)
        |  WHERE s <> d),
        |deg AS (SELECT n, count(*) AS dg
        |        FROM (SELECT u AS n FROM ed UNION ALL SELECT v FROM ed) GROUP BY 1),
        |ori AS (
        |  SELECT CASE WHEN (du.dg, e.u) < (dv.dg, e.v) THEN e.u ELSE e.v END AS x,
        |         CASE WHEN (du.dg, e.u) < (dv.dg, e.v) THEN e.v ELSE e.u END AS y
        |  FROM ed e JOIN deg du ON e.u = du.n JOIN deg dv ON e.v = dv.n),
        |w AS (SELECT a.x, a.y, b.y AS z FROM ori a JOIN ori b ON a.x = b.x WHERE a.y < b.y),
        |tri AS (SELECT * FROM w JOIN ed ON w.y = ed.u AND w.z = ed.v)
        |SELECT (SELECT count(*) FROM ed) AS n_edges,
        |       (SELECT count(*) FROM w) AS n_wedges,
        |       (SELECT count(*) FROM tri) AS n_triangles""".stripMargin,
    // the five integer PageRank iterations unrolled; every op is integer
    // multiply / floor-divide / sum, so the oracle is EXACT (hash-equal),
    // which no double-weighted PageRank formulation could be
    "q52_pagerank" ->
      """WITH e AS (
        |  SELECT DISTINCT user_id AS es, CAST(json_extract_string(props, '$.k') AS BIGINT) % 150 AS ed
        |  FROM events
        |  WHERE json_extract_string(props, '$.k') IS NOT NULL
        |    AND user_id <> CAST(json_extract_string(props, '$.k') AS BIGINT) % 150),
        |nodes AS (SELECT DISTINCT node FROM (SELECT es AS node FROM e UNION ALL SELECT ed FROM e)),
        |par AS (SELECT count(*) AS n, ((1000000000000 * 15) // 100) // count(*) AS base FROM nodes),
        |od AS (SELECT es AS node, count(*) AS outdeg FROM e GROUP BY 1),
        |r0 AS (SELECT node, 1000000000000 // p.n AS rank FROM nodes, par p),
        |r1 AS (
        |  SELECT nd.node, p.base + (85 * coalesce(s.cs, 0)) // 100 AS rank
        |  FROM nodes nd CROSS JOIN par p
        |  LEFT JOIN (SELECT e.ed AS node, CAST(sum(r.rank // o.outdeg) AS BIGINT) AS cs
        |             FROM r0 r JOIN od o ON r.node = o.node JOIN e ON r.node = e.es
        |             GROUP BY 1) s ON nd.node = s.node),
        |r2 AS (
        |  SELECT nd.node, p.base + (85 * coalesce(s.cs, 0)) // 100 AS rank
        |  FROM nodes nd CROSS JOIN par p
        |  LEFT JOIN (SELECT e.ed AS node, CAST(sum(r.rank // o.outdeg) AS BIGINT) AS cs
        |             FROM r1 r JOIN od o ON r.node = o.node JOIN e ON r.node = e.es
        |             GROUP BY 1) s ON nd.node = s.node),
        |r3 AS (
        |  SELECT nd.node, p.base + (85 * coalesce(s.cs, 0)) // 100 AS rank
        |  FROM nodes nd CROSS JOIN par p
        |  LEFT JOIN (SELECT e.ed AS node, CAST(sum(r.rank // o.outdeg) AS BIGINT) AS cs
        |             FROM r2 r JOIN od o ON r.node = o.node JOIN e ON r.node = e.es
        |             GROUP BY 1) s ON nd.node = s.node),
        |r4 AS (
        |  SELECT nd.node, p.base + (85 * coalesce(s.cs, 0)) // 100 AS rank
        |  FROM nodes nd CROSS JOIN par p
        |  LEFT JOIN (SELECT e.ed AS node, CAST(sum(r.rank // o.outdeg) AS BIGINT) AS cs
        |             FROM r3 r JOIN od o ON r.node = o.node JOIN e ON r.node = e.es
        |             GROUP BY 1) s ON nd.node = s.node),
        |r5 AS (
        |  SELECT nd.node, p.base + (85 * coalesce(s.cs, 0)) // 100 AS rank
        |  FROM nodes nd CROSS JOIN par p
        |  LEFT JOIN (SELECT e.ed AS node, CAST(sum(r.rank // o.outdeg) AS BIGINT) AS cs
        |             FROM r4 r JOIN od o ON r.node = o.node JOIN e ON r.node = e.es
        |             GROUP BY 1) s ON nd.node = s.node)
        |SELECT node AS node_id, CAST(rank AS BIGINT) AS rank_scaled FROM r5""".stripMargin,
    "q38_cu_accounting" ->
      """SELECT 'orders' AS table_name, count(*) AS n_scanned, count(*) AS n_imported, count(*) * 3 AS cu_cost FROM orders
        |UNION ALL
        |SELECT 'lineitem', count(*), count(*), count(*) * 1 FROM lineitem
        |UNION ALL
        |SELECT 'customer', count(*), count(*), count(*) * 5 FROM customer
        |UNION ALL
        |SELECT 'events', count(*),
        |       CAST(sum(CASE WHEN event_type IN ('purchase', 'click')
        |                  OR (value >= 150.0 AND event_type NOT IN ('error', 'signup'))
        |                THEN 1 ELSE 0 END) AS BIGINT),
        |       count(*) * 2 * 2
        |FROM events""".stripMargin,
    "q37_follow_suggest" ->
      """WITH e AS (
        |  SELECT DISTINCT user_id AS s, CAST(json_extract_string(props, '$.k') AS BIGINT) % 150 AS d
        |  FROM events
        |  WHERE json_extract_string(props, '$.k') IS NOT NULL
        |    AND user_id <> CAST(json_extract_string(props, '$.k') AS BIGINT) % 150),
        |fof AS (
        |  SELECT a.s AS u, b.d AS cand
        |  FROM e a JOIN e b ON a.d = b.s
        |  WHERE b.d <> a.s),
        |sugg AS (
        |  SELECT u, cand, count(*) AS n_common
        |  FROM fof
        |  WHERE NOT EXISTS (SELECT 1 FROM e WHERE e.s = fof.u AND e.d = fof.cand)
        |  GROUP BY u, cand)
        |SELECT user_id, suggested_id, n_common, CAST(rnk AS BIGINT) AS "rank"
        |FROM (SELECT u AS user_id, cand AS suggested_id, n_common,
        |             row_number() OVER (PARTITION BY u ORDER BY n_common DESC, cand ASC) AS rnk
        |      FROM sugg)
        |WHERE rnk <= 5""".stripMargin,
    "q26_price_percentiles" ->
      """SELECT o_orderpriority,
        |       max(CASE WHEN rn = CAST(ceil(n * 0.5) AS BIGINT) THEN o_totalprice END) AS p50,
        |       max(CASE WHEN rn = CAST(ceil(n * 0.9) AS BIGINT) THEN o_totalprice END) AS p90,
        |       count(*) AS n_orders
        |FROM (SELECT o_orderpriority, o_totalprice, o_orderkey,
        |             row_number() OVER (PARTITION BY o_orderpriority ORDER BY o_totalprice ASC, o_orderkey ASC) AS rn,
        |             count(*) OVER (PARTITION BY o_orderpriority) AS n
        |      FROM orders)
        |GROUP BY o_orderpriority""".stripMargin,
    "q27_age_metrics" ->
      """WITH m AS (SELECT max(epoch_us(ts)) AS mx FROM events)
        |SELECT event_type, count(*) AS n,
        |       CAST((sum(mx - epoch_us(ts)) + count(*)*5000) // (count(*)*10000) AS DOUBLE) / 100.0 AS avg_age_s,
        |       CAST((max(mx - epoch_us(ts)) + 5000) // 10000 AS DOUBLE) / 100.0 AS max_age_s
        |FROM events, m GROUP BY event_type""".stripMargin,
    "t03_tokens" ->
      """SELECT doc_id,
        |  CAST(len(list_filter(string_split_regex(lower(trim(text)), '\s+'), x -> x <> '')) AS BIGINT) AS ws_tokens,
        |  CAST(len(regexp_extract_all(lower(text), '[a-z]+|[0-9]+|[^a-z0-9\s]')) AS BIGINT) AS subword_tokens
        |FROM documents""".stripMargin,
    // resize planning is pure metadata arithmetic; the synthetic media dims
    // are integer-arithmetic-derived (Multimodal.syntheticMedia) so the
    // oracle recomputes them exactly. Scale math mirrors the Spark
    // expression order (least(256/max, 1.0), then round half-up).
    "t17_bloom_contamination" -> OracleHashSql.t17Sql,
    "s12_ann_ivf_trained" -> OracleHashSql.s12Sql,
    "d13_semantic_dedup_trained" -> OracleHashSql.d13Sql,
    "q61_part_variety" ->
      """WITH pairs AS (SELECT DISTINCT l_partkey, l_suppkey FROM lineitem),
        |j AS (
        |  SELECT p.p_brand, p.p_size, pr.l_suppkey
        |  FROM pairs pr JOIN part p ON p.p_partkey = pr.l_partkey
        |  WHERE pr.l_suppkey NOT IN (SELECT s_suppkey FROM supplier WHERE s_acctbal < 0))
        |SELECT p_brand, CAST(p_size AS BIGINT) AS p_size,
        |       count(DISTINCT l_suppkey) AS supplier_cnt
        |FROM j GROUP BY 1, 2""".stripMargin,
    "q60_sole_shipper" ->
      """WITH ps AS (
        |  SELECT l_orderkey, l_suppkey, max(epoch_ms(l_shipdate)) AS s_mx
        |  FROM lineitem GROUP BY 1, 2),
        |m AS (
        |  SELECT l_orderkey, l_suppkey, s_mx,
        |         max(s_mx) OVER (PARTITION BY l_orderkey) AS mx,
        |         count(*) OVER (PARTITION BY l_orderkey) AS nsup
        |  FROM ps),
        |am AS (
        |  SELECT l_suppkey,
        |         count(*) OVER (PARTITION BY l_orderkey) AS n_at_max
        |  FROM m WHERE nsup >= 2 AND s_mx = mx),
        |c AS (
        |  SELECT l_suppkey, count(*) AS n_orders FROM am WHERE n_at_max = 1 GROUP BY 1)
        |SELECT l_suppkey, n_orders FROM c ORDER BY n_orders DESC, l_suppkey LIMIT 20""".stripMargin,
    "q62_shipmode_priority" ->
      """WITH li AS (
        |  SELECT l_orderkey, l_returnflag, epoch_us(l_shipdate) AS ship_us
        |  FROM lineitem
        |  WHERE l_returnflag IN ('A', 'N')
        |    AND l_shipdate >= TIMESTAMP '1997-01-01' AND l_shipdate < TIMESTAMP '1998-01-01')
        |SELECT l_returnflag,
        |  CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH') THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
        |  CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH') THEN 0 ELSE 1 END) AS BIGINT) AS low_line_count
        |FROM li JOIN orders ON l_orderkey = o_orderkey
        |WHERE ship_us >= epoch_us(o_orderdate) + 2592000000000
        |GROUP BY 1""".stripMargin,
    "q63_kmv_distinct" -> OracleHashSql.q63Sql,
    "q66_bfs_depths" ->
      """WITH RECURSIVE e AS (
        |  -- ((x % m) + m) % m: non-negative modulus matching the engine's
        |  -- pmod (DuckDB's % keeps the dividend's sign; the json field is
        |  -- non-negative in the testdata, but the parity must not rely on it)
        |  SELECT DISTINCT user_id AS es,
        |         ((CAST(json_extract_string(props, '$.k') AS BIGINT) % 150) + 150) % 150 AS ed
        |  FROM events
        |  WHERE json_extract_string(props, '$.k') IS NOT NULL
        |    AND user_id <> ((CAST(json_extract_string(props, '$.k') AS BIGINT) % 150) + 150) % 150),
        |seeds AS (
        |  SELECT DISTINCT node
        |  FROM (SELECT es AS node FROM e UNION ALL SELECT ed FROM e)
        |  WHERE node < 2),
        |reach(node, depth) AS (
        |  SELECT node, CAST(0 AS BIGINT) FROM seeds
        |  UNION
        |  SELECT e.ed, r.depth + 1 FROM reach r JOIN e ON e.es = r.node WHERE r.depth < 6)
        |SELECT node AS node_id, min(depth) AS depth FROM reach GROUP BY node""".stripMargin,
    "q64_kmv_mergeable" -> OracleHashSql.q64Sql,
    "q70_decile_bins" ->
      """SELECT o_orderpriority, decile,
        |       count(*) AS n_orders, min(price_c) AS min_c, max(price_c) AS max_c,
        |       CAST(sum(price_c) AS BIGINT) AS sum_c
        |FROM (
        |  SELECT o_orderpriority,
        |         CAST(round(o_totalprice * 100) AS BIGINT) AS price_c,
        |         CAST(ntile(10) OVER (PARTITION BY o_orderpriority
        |                              ORDER BY round(o_totalprice * 100) ASC, o_orderkey ASC) AS BIGINT) AS decile
        |  FROM orders)
        |GROUP BY 1, 2""".stripMargin,
    "q68_nation_value" ->
      """WITH li AS (
        |  SELECT l.l_partkey,
        |         CAST(round(l.l_quantity * 100) AS BIGINT)
        |           * CAST(round(p.p_retailprice * 100) AS BIGINT) AS v4
        |  FROM lineitem l
        |  JOIN part p ON p.p_partkey = l.l_partkey
        |  WHERE l.l_suppkey IN (
        |    SELECT s_suppkey FROM supplier s JOIN nation n ON s.s_nationkey = n.n_nationkey
        |    WHERE n.n_name = 'NATION_3')),
        |pp AS (SELECT l_partkey, CAST(sum(v4) AS BIGINT) AS value4 FROM li GROUP BY 1),
        |tot AS (SELECT CAST(sum(value4) AS BIGINT) AS total4, count(*) AS n_parts FROM pp)
        |SELECT pp.l_partkey AS p_partkey, pp.value4
        |FROM pp, tot WHERE pp.value4 * tot.n_parts > tot.total4 * 2""".stripMargin,
    // q72 = q68 in the widened regime: DuckDB's BIGINT sum is natively
    // HUGEINT (128-bit, exact), so the oracle just SKIPS the 64-bit
    // re-narrowing casts q68 carries — the per-part sum, the total and
    // the gate all run 128-bit, and only the bounded per-part OUTPUT
    // value re-narrows (same contract as the Spark side)
    "q72_nation_value_wide" ->
      """WITH li AS (
        |  SELECT l.l_partkey,
        |         CAST(round(l.l_quantity * 100) AS BIGINT)
        |           * CAST(round(p.p_retailprice * 100) AS BIGINT) AS v4
        |  FROM lineitem l
        |  JOIN part p ON p.p_partkey = l.l_partkey
        |  WHERE l.l_suppkey IN (
        |    SELECT s_suppkey FROM supplier s JOIN nation n ON s.s_nationkey = n.n_nationkey
        |    WHERE n.n_name = 'NATION_3')),
        |pp AS (SELECT l_partkey, sum(v4) AS value38 FROM li GROUP BY 1),
        |tot AS (SELECT sum(value38) AS total38, count(*) AS n_parts FROM pp)
        |SELECT pp.l_partkey AS p_partkey, CAST(pp.value38 AS BIGINT) AS value4
        |FROM pp, tot WHERE pp.value38 * tot.n_parts > tot.total38 * 2""".stripMargin,
    "q69_kmv_intersection" -> OracleHashSql.q69Sql,
    "q71_sketch_bins" -> OracleHashSql.q71Sql,
    "q67_excess_shippers" ->
      """WITH li AS (
        |  SELECT l_partkey, l_suppkey, CAST(round(l_quantity * 100) AS BIGINT) AS q_c
        |  FROM lineitem
        |  WHERE l_shipdate >= TIMESTAMP '1997-01-01' AND l_shipdate < TIMESTAMP '1998-01-01'
        |    AND l_partkey IN (SELECT p_partkey FROM part WHERE p_name LIKE '%bolt%')),
        |ps AS (SELECT l_partkey, l_suppkey, CAST(sum(q_c) AS BIGINT) AS ps_qty FROM li GROUP BY 1, 2),
        |pp AS (SELECT l_partkey, CAST(sum(ps_qty) AS BIGINT) AS p_qty FROM ps GROUP BY 1),
        |ex AS (SELECT DISTINCT ps.l_suppkey FROM ps JOIN pp USING (l_partkey)
        |       WHERE ps.ps_qty * 2 > pp.p_qty)
        |SELECT s.s_suppkey, s.s_name, n.n_name
        |FROM ex JOIN supplier s ON s.s_suppkey = ex.l_suppkey
        |JOIN nation n ON n.n_nationkey = s.s_nationkey""".stripMargin,
    "q65_sketch_quantiles" -> OracleHashSql.q65Sql,
    "t18_gopher_rules" ->
      """WITH sp0 AS (
        |  SELECT doc_id, regexp_replace(lower(trim(text)), '\s+', ' ', 'g') AS sp FROM documents),
        |c AS (
        |  SELECT doc_id,
        |    CAST(len(regexp_extract_all(sp, '[^ ]+')) AS BIGINT) AS n_words,
        |    CAST(length(replace(sp, ' ', '')) AS BIGINT) AS char_sum,
        |    CAST(len(regexp_extract_all(sp, '[^ ]*[a-z][^ ]*')) AS BIGINT) AS alpha_words,
        |    CAST(len(regexp_extract_all(sp, '[^ ]*#[^ ]*')) AS BIGINT) AS sym_words,
        |    CAST(CASE WHEN regexp_matches(sp, '(^| )the( |$)') THEN 1 ELSE 0 END
        |       + CASE WHEN regexp_matches(sp, '(^| )a( |$)') THEN 1 ELSE 0 END
        |       + CASE WHEN regexp_matches(sp, '(^| )of( |$)') THEN 1 ELSE 0 END
        |       + CASE WHEN regexp_matches(sp, '(^| )and( |$)') THEN 1 ELSE 0 END
        |       + CASE WHEN regexp_matches(sp, '(^| )to( |$)') THEN 1 ELSE 0 END
        |       + CASE WHEN regexp_matches(sp, '(^| )in( |$)') THEN 1 ELSE 0 END
        |       + CASE WHEN regexp_matches(sp, '(^| )is( |$)') THEN 1 ELSE 0 END AS BIGINT) AS stop_distinct
        |  FROM sp0)
        |SELECT doc_id, n_words, char_sum, alpha_words, sym_words, stop_distinct,
        |  CAST(CASE WHEN n_words >= 50 AND n_words <= 100000
        |      AND char_sum >= n_words * 3 AND char_sum <= n_words * 10
        |      AND alpha_words * 5 >= n_words * 4
        |      AND sym_words * 10 <= n_words
        |      AND stop_distinct >= 2 THEN 1 ELSE 0 END AS BIGINT) AS keep
        |FROM c""".stripMargin,
    "d12_dedup_pipeline" ->
      """WITH RECURSIVE toks AS (
        |  SELECT doc_id,
        |         list_filter(string_split_regex(lower(trim(text)), '\s+'), t -> t <> '') AS tk
        |  FROM documents),
        |sets AS (
        |  SELECT doc_id,
        |         list_distinct(CASE WHEN len(tk) <= 3 THEN [array_to_string(tk, ' ')]
        |              ELSE list_transform(range(1, len(tk) - 1), i -> array_to_string(tk[i:i+2], ' ')) END) AS sh
        |  FROM toks),
        |sizes AS (SELECT doc_id, len(sh) AS n FROM sets),
        |inv AS (SELECT doc_id, unnest(sh) AS g FROM sets),
        |shared AS (
        |  SELECT x.doc_id AS a, y.doc_id AS b, count(*) AS inter
        |  FROM inv x JOIN inv y ON x.g = y.g AND x.doc_id < y.doc_id
        |  GROUP BY 1, 2),
        |pairs AS (
        |  SELECT a, b, CAST(inter AS DOUBLE) / (sa.n + sb.n - inter) AS j
        |  FROM shared JOIN sizes sa ON sa.doc_id = shared.a JOIN sizes sb ON sb.doc_id = shared.b),
        |e AS (SELECT a, b FROM pairs WHERE j >= 0.5),
        |sym AS (SELECT a AS u, b AS v FROM e UNION SELECT b, a FROM e),
        |reach(node, label) AS (
        |  SELECT u, u FROM (SELECT DISTINCT u FROM sym)
        |  UNION
        |  SELECT s.u, r.label FROM sym s JOIN reach r ON s.v = r.node),
        |cl AS (SELECT node, min(label) AS cluster_id FROM reach GROUP BY node)
        |SELECT d.doc_id,
        |       coalesce(cl.cluster_id, d.doc_id) AS cluster_id,
        |       CAST(CASE WHEN cl.cluster_id IS NULL OR cl.cluster_id = d.doc_id THEN 1 ELSE 0 END AS BIGINT) AS keep
        |FROM documents d LEFT JOIN cl ON cl.node = d.doc_id""".stripMargin,
    "m03_resize_plan" ->
      """WITH m AS (
        |  SELECT CAST(doc_id AS BIGINT) AS media_id,
        |         CAST((doc_id * 2654435761) % 1024 + 1 AS INT) AS meta_width,
        |         CAST((doc_id * 2246822519) % 1024 + 1 AS INT) AS meta_height
        |  FROM documents WHERE doc_id % 3 = 0),
        |s AS (
        |  SELECT media_id, meta_width, meta_height,
        |         least(256.0 / CAST(greatest(meta_width, meta_height) AS DOUBLE), 1.0) AS sc
        |  FROM m)
        |SELECT media_id, meta_width, meta_height,
        |       CAST(round(meta_width * sc) AS INT) AS out_width,
        |       CAST(round(meta_height * sc) AS INT) AS out_height
        |FROM s""".stripMargin)
}
