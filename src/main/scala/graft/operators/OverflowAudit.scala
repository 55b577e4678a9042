package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables

/** Deployment-time guard for the scaled-integer exactness contract.
  *
  * The engine's determinism contract is "exact sums of scaled integers"
  * (SURVEY §4). Every grouped revenue/value/interval sum runs through
  * `SparkEntry.xsum`'s 128-bit Sum128, so no registered money sum has a
  * 64-bit ceiling any more. What is left to guard: 64-bit arithmetic that
  * is NOT a Sum128 aggregate, and the double cast every dollar-form output
  * ends in. The audit turns both into a check a deployment can RUN against
  * its actual data: each row's worst-case magnitude is computed from the
  * loaded tables' true row counts and maxima (in decimal(38,0), so the
  * audit itself cannot wrap), and a crossing fails loudly instead of being
  * remembered.
  *
  * Rows:
  *  - `gate_cross_mult` — q68's value4·n_parts vs 2·total4 integer gate:
  *    64-bit longs (plain `sum`, then cross-multiplication), and both
  *    factors grow with SF, so this hits 10% of 2⁶³ near sf100. Its escape
  *    is the registered q72 decimal(38,0) form.
  *  - `cast_double:*` — the 2^53 output-cast rows (see [[Ceiling53]]),
  *    each bounding the exact integer that enters a member's final
  *    `.cast("double") / 10^s`; the escape is the integer-cents output
  *    (GRAFT_CENTS_OUT).
  * Sketch/hash arithmetic (KMV, Bloom, band keys) is scale-independent —
  * bounded by k/mBits/2⁶⁴, never by data volume — and has no audit entry.
  *
  * == Exhaustiveness of the span-growing families (r16, VERDICT r15 §6) ==
  *
  * q27's age family was found by a PROBE, not by this audit — so the class
  * "Σ over terms whose magnitude grows with the data" is here closed by
  * classification, not anecdote. Rule: a 64-bit Σ over N rows wraps at
  * Σ|term| ≥ 2⁶³; with per-row |term| ≤ B (a data-independent bound) the
  * sum is LINEAR in rows and the ceiling sits at 2⁶³/B rows — for every
  * monetary/qty/value term (B ≤ ~10¹¹ for the 3-factor charge) that is
  * sf10³–10⁵. A sum is SUPERLINEAR only when the TERM itself grows with
  * the dataset, which in this engine can arise four ways: (1) a
  * timestamp/sequence delta against a global extremum, (2) a
  * rank/row_number-derived term, (3) a product of two aggregates, (4) a
  * cumulative sum re-summed. The r16 pass over every registered aggregate
  * (SparkEntry + the operators and streaming trees):
  *  - class (1): q27's `max(ts)−ts_us` — the ONLY member; it sums through
  *    Sum128, so it has no 64-bit ceiling. q15/q45's lag/min deltas
  *    are compared or flag-summed, never magnitude-summed; q44/q47 and
  *    the streaming TrailingWindow/StatefulSessions sum bounded `v2`
  *    terms over span-bounded frames (24h/day/session), so their frame
  *    sums are rate-linear with bounded terms, not span-growing.
  *  - class (2): no member — Binning's rn/ntile and q14/q26/q54's ranks
  *    gate or select rows; no registered aggregate sums a rank.
  *  - class (3): q68's `value4 · n_parts` — audited (`gate_cross_mult`);
  *    its registered escape is q72's decimal form. (The `Probe regime`
  *    instrument's Σ|cell|² is the same class and computes in
  *    decimal(38,0) for the same reason.)
  *  - class (4): no member — Binning/Sampling's cumulative offsets
  *    (`_off`, sequence-pack token cumsums) are bounded by the GLOBAL
  *    total of a bounded per-row term (≤ total rows × B) and are consumed
  *    as values, never re-summed.
  *  - everything else sums terms bounded per row: scaled prices/
  *    quantities/values (Sum128, or a plain 64-bit `sum` linear in rows),
  *    counts/flags (Σ ≤ rows; 2⁶³ rows ≈ 9.2e18 ≫ any deployment),
  *    per-doc token/length stats (B ≤ doc size), embedding components
  *    (|x6| ≤ 1e6 per dim — Lloyd/s11 state), payload bytes (B = row
  *    payload).
  * Claim: every span-growing 64-bit step has an audit row. A NEW
  * aggregate joins the audit iff its per-row term derives from a global
  * extremum delta, a rank, an aggregate product, or a re-summed cumsum
  * and it does not sum through Sum128.
  */
object OverflowAudit {

  val Ceiling: BigDecimal = BigDecimal(Long.MaxValue)

  /** Double's exact-integer ceiling (2^53): the LAST exactness boundary of
    * the engine's output path — every scaled-integer sum ends in a
    * `.cast("double") / 10^s`, and past 2^53 the cast itself rounds.
    * Distinct failure mode from 2^63: a wrapped 64-bit sum is GARBAGE
    * (sign flips, arbitrary error), a >2^53 cast is sub-unit DRIFT on a
    * still-exact integer — and it stays cross-engine HASH-IDENTICAL
    * (both engines round the same exact value to the same nearest
    * double), so only absolute value fidelity degrades, not determinism.
    * Hence the `cast_double` rows alarm at 100% (the true boundary), not
    * the 10% early line sized for data-skew surprise on sum wrap. */
  val Ceiling53: BigDecimal = BigDecimal(2).pow(53)

  /** One (family, grouping-class)'s worst-case magnitude on the audited
    * data. `fraction` is worst/2⁶³; [[ok]] holds while it stays under the
    * 10% alarm line.
    *
    * `queries` names the registered SparkEntry queries whose arithmetic
    * this row bounds — the r13 granularity fix: an exit-2 report says
    * WHICH queries cross at the deployment's SF instead of one global
    * family alarm that sf10+ automation learns to ignore.
    *
    * `worst = None` means the audit could not measure the family — a null
    * aggregate over NON-EMPTY input (all-null terms, or the audit's own
    * decimal(38,0) arithmetic wrapping in non-ANSI mode), or ANY per-row
    * null term among non-null rows (sum/max silently skip those, so a
    * partially-null measurement would understate the worst case). The guard
    * fails CLOSED there: the regimes that null out the measurement are
    * exactly the extreme ones it exists to detect, so `ok` is false and the
    * render says UNMEASURABLE instead of silently reporting zero.
    */
  final case class Headroom(family: String, worst: Option[BigDecimal],
      queries: Seq[String] = Nil,
      ceiling: BigDecimal = Ceiling, alarmAt: Double = 0.10,
      // r17 (VERDICT r16 task 1): rows whose EVERY member has a registered
      // integer-cents output form routed by the engine-level GRAFT_CENTS_OUT
      // switch (SparkEntry.centsOut) — the 2^53 cast-fidelity escape. With
      // that switch on the members' final `.cast(double)/10^s` no longer
      // exists, so the row stops gating.
      centsSwitchCovers: Boolean = false) {
    def fraction: Double = worst.map(w => (w / ceiling).toDouble).getOrElse(Double.NaN)
    // NaN < alarmAt is false, so the unmeasurable case stays failed-closed.
    def ok: Boolean = fraction < alarmAt
    /** Whether a crossed row should still trip the deployment gate given
      * the integer-cents output switch. Only a MEASURED crossing is
      * releasable: an UNMEASURABLE row (worst = None) signals the audit
      * itself failed — all-null terms or the audit's own decimal arithmetic
      * wrapping — which is a measurement/data anomaly no switch removes,
      * so it gates in every mode (ADVICE r14). */
    def gates(centsOutOn: Boolean): Boolean =
      !(centsOutOn && centsSwitchCovers && worst.isDefined)
    override def toString: String = {
      val qs = if (queries.isEmpty) "" else queries.mkString(" [", ",", "]")
      val cov =
        if (centsSwitchCovers)
          " escape=GRAFT_CENTS_OUT=1 (integer-cents output forms; registered escapes q77-q81)"
        else ""
      val ceil = if (ceiling == Ceiling53) "2^53" else "2^63"
      worst match {
        case Some(w) => f"$family: worst=$w%.3e (${fraction * 100}%.4f%% of $ceil, alarm at ${alarmAt * 100}%.0f%%)$qs$cov"
        case None => s"$family: UNMEASURABLE (null aggregate over non-empty input — failing closed)$qs$cov"
      }
    }
  }

  /** Worst-case magnitude of a 64-bit SUM over `term`: Σ|term| computed in
    * decimal(38,0) — exact for any realistic table. Empty input is a
    * measured zero (nothing can overflow); a null sum with rows present OR
    * any per-row null term (sum would silently skip it, understating the
    * worst case) is unmeasurable and fails closed (see [[Headroom]]).
    */
  def sumHeadroom(family: String, df: DataFrame, term: Column,
      queries: Seq[String] = Nil): Headroom = {
    val t = abs(term).cast("decimal(38,0)")
    val r = df.agg(sum(t).as("s"), count(lit(1)).as("n"), count(t).as("nn")).head()
    val rows = r.getLong(1)
    val worst =
      if (rows == 0L) Some(BigDecimal(0))
      else if (r.getLong(2) != rows) None // per-row nulls dropped by sum
      else Option(r.getDecimal(0)).map(BigDecimal(_))
    Headroom(family, worst, queries)
  }

  /** Worst-case magnitude of a GROUPED 64-bit sum: max over groups of
    * Σ|term|, in decimal(38,0) — the r13 per-(family, grouping-class)
    * granularity. This measures the arithmetic a registered grouped query
    * actually runs (its own grouping keys over its own join), so the alarm
    * names the queries whose per-GROUP sums cross, not the family's global
    * ceiling that no registered grouping reaches. Same contract as
    * [[sumHeadroom]]: empty input (zero groups) is a measured zero; any
    * per-row null term, or a null per-group sum with groups present (the
    * audit's own decimal arithmetic wrapping), is unmeasurable and fails
    * closed.
    */
  def groupedSumHeadroom(family: String, df: DataFrame, groupCols: Seq[Column],
      term: Column, queries: Seq[String] = Nil): Headroom = {
    val t = abs(term).cast("decimal(38,0)")
    val per = df.groupBy(groupCols: _*)
      .agg(sum(t).as("s"), count(lit(1)).as("n"), count(t).as("nn"))
    val r = per.agg(
      max(col("s")).as("mx"), count(col("s")).as("g_nonnull"), count(lit(1)).as("g"),
      sum(col("n")).as("rows_total"), sum(col("nn")).as("rows_nonnull")).head()
    val groups = r.getLong(2)
    val worst =
      if (groups == 0L) Some(BigDecimal(0))
      else if (r.getLong(1) != groups || r.getLong(3) != r.getLong(4)) None
      else Option(r.getDecimal(0)).map(BigDecimal(_))
    Headroom(family, worst, queries)
  }

  /** Worst-case magnitude of an integer cross-multiplication gate
    * `a·b`: max|a| · max|b| over the frame, in exact BigDecimal. Same
    * empty-is-zero / null-with-rows-fails-closed contract as [[sumHeadroom]].
    */
  def crossMultHeadroom(family: String, df: DataFrame, a: Column, b: Column): Headroom = {
    val (ta, tb) = (abs(a).cast("decimal(38,0)"), abs(b).cast("decimal(38,0)"))
    val r = df.agg(
      max(ta).as("ma"), max(tb).as("mb"),
      count(lit(1)).as("n"), count(ta).as("na"), count(tb).as("nb")).head()
    val rows = r.getLong(2)
    val worst =
      if (rows == 0L) Some(BigDecimal(0))
      else if (r.getLong(3) != rows || r.getLong(4) != rows) None // nulls dropped by max
      else for {
        ma <- Option(r.getDecimal(0))
        mb <- Option(r.getDecimal(1))
      } yield BigDecimal(ma) * BigDecimal(mb)
    Headroom(family, worst)
  }

  private def c2(c: Column): Column = round(c * lit(100)).cast("decimal(38,0)")

  /** The full audit over a loaded testdata/deployment directory: q68's
    * gate plus one 2^53 row per output-cast class. Every row names its
    * member queries. Grouped measurements are the query's OWN arithmetic —
    * its grouping keys over its own join — as an unfiltered upper bound (a
    * query's extra filters only shrink its groups).
    */
  def audit(spark: SparkSession, dir: String): Seq[Headroom] = {
    val li = Tables.lineitem(spark, dir)
    val ord = Tables.orders(spark, dir)
    // q12's sum_charge product is the largest per-row revenue-family term;
    // its global sum bounds every cents2 member's per-group sum (q12's 6
    // returnflag×linestatus groups sit within ~6× of it)
    val charge = c2(col("l_extendedprice")) *
      (lit(100) - c2(col("l_discount"))) * (lit(100) + c2(col("l_tax")))
    val revenue = sumHeadroom("revenue_sum", li, charge)

    // The grouped sums below are measurements, not rows: their members sum
    // through Sum128 (no 2⁶³ ceiling), and their worsts bound the
    // grouped/entity cast_double rows further down.
    // the 1e-4-scaled revenue term shared by the grouped members
    val vol4 = round(col("l_extendedprice") * (lit(1.0) - col("l_discount")) * 10000)
      .cast("long")
    // The nation (q13 groups by region×CUSTOMER-nation; q34's nation-pair
    // groups are subsets of one customer nation's rows — both bounded by
    // the per-customer-nation max), custkey (q35) and orderyear (q40 —
    // groups by o_year ONLY, summing across every customer nation per
    // year, so NO nation-refinement bound applies; ADVICE r14) rows share
    // ONE fact-fact li⋈ord pass, pre-aggregated on (custkey, order-year)
    // cells below the customer dimension — the q35 rule applied to the
    // audit itself: the join output shrinks to |cells| rows (≤ |orders|)
    // before any further grouping, and each row's grouping is a coarsening
    // of the cell grain (Σ per-cell Σ per custkey/year/nation ≡ the direct
    // Σ, exactly). Fail-closed accounting rides along: a cell with dropped
    // per-row terms carries a NULL term into each outer bound, which
    // groupedSumHeadroom's null check turns into UNMEASURABLE.
    // All three rows measure the 1e-4-scaled 2-factor term their members
    // actually sum: q13's c2(price)·(100−c2(disc)) equals vol4 up to
    // rounding, and q34/q35/q40's vol4 is the same scale. (The first r14
    // cut measured the 3-factor CHARGE term here — ~100× every member's
    // real per-group sum — and fired a false nation alarm at sf100; the
    // charge class belongs to the GLOBAL row, whose member q12 really
    // does sum it.)
    val perCell = li
      .select(col("l_orderkey"), abs(vol4).cast("decimal(38,0)").as("tv"))
      .join(ord.select(col("o_orderkey"), col("o_custkey"),
          year(col("o_orderdate")).cast("long").as("o_year")),
        col("l_orderkey") === col("o_orderkey"))
      .groupBy(col("o_custkey"), col("o_year"))
      .agg(sum(col("tv")).as("sv"),
        count(lit(1)).as("n"), count(col("tv")).as("ntv"))
      // materialize once: three rows read this frame; without the pin the
      // 600M-row fact join would run three times (the d11/s09 rule). The
      // cell grain keeps the checkpoint post-aggregation — bounded by
      // |orders|, in practice |custkeys|×active-years ≪ that
      .localCheckpoint(true)
    val cellSum = when(col("ntv") =!= col("n"), lit(null)).otherwise(col("sv"))
    val custkey = groupedSumHeadroom("revenue_sum:custkey_group", perCell,
      Seq(col("o_custkey")), cellSum, queries = Seq("q35"))
    val orderyear = groupedSumHeadroom("revenue_sum:orderyear_group", perCell,
      Seq(col("o_year")), cellSum, queries = Seq("q40"))
    val nation = groupedSumHeadroom("revenue_sum:nation_group",
      perCell.join(Tables.customer(spark, dir)
          .select(col("c_custkey"), col("c_nationkey")),
        col("o_custkey") === col("c_custkey")),
      Seq(col("c_nationkey")), cellSum, queries = Seq("q13", "q34"))
    // q41 groups by SUPPLIER nation (× order year, which only splits
    // finer), summing profit4 = round((price·(1−disc) − 0.1·retail·qty)
    // ·1e4) — neither a customer-nation nor a vol4 class (ADVICE r14). Its
    // row measures the supplier-nation grouping over a row-wise upper
    // bound on |profit4|: |round((a−b)·1e4)| ≤ round(a·1e4) + round(b·1e4)
    // + 2 for non-negative a, b (each rounding adds ≤ ½). Both dims
    // broadcast; the 25-way groupBy partial-aggregates map-side, so the
    // pass is one pruned lineitem scan.
    val cost4 = round(lit(0.1) * col("p_retailprice") * col("l_quantity") * 10000)
      .cast("long")
    val suppnation = groupedSumHeadroom("revenue_sum:suppnation_group",
      li.select(col("l_partkey"), col("l_suppkey"), col("l_extendedprice"),
          col("l_discount"), col("l_quantity"))
        .join(broadcast(Tables.part(spark, dir)
            .select(col("p_partkey"), col("p_retailprice"))),
          col("l_partkey") === col("p_partkey"))
        .join(broadcast(Tables.supplier(spark, dir)
            .select(col("s_suppkey"), col("s_nationkey"))),
          col("l_suppkey") === col("s_suppkey")),
      Seq(col("s_nationkey")), abs(vol4) + abs(cost4) + lit(2L),
      queries = Seq("q41"))
    // orderkey/suppkey/shipyear deliberately re-scan lineitem rather than
    // share one checkpointed projection: materializing a 600M-row 4-column
    // frame (~24 GB of blocks at sf100) costs more than two extra
    // column-pruned parquet scans. perCust above checkpoints because its
    // shared frame is POST-aggregation (|custkeys| rows) — the d11/s09 rule
    // applies to small derived frames, not to fact projections.
    val orderkey = groupedSumHeadroom("revenue_sum:orderkey_group", li,
      Seq(col("l_orderkey")), vol4, queries = Seq("q32", "q54"))
    val suppkey = groupedSumHeadroom("revenue_sum:suppkey_group", li,
      Seq(col("l_suppkey")), vol4, queries = Seq("q29", "q56"))
    val yearly = groupedSumHeadroom("revenue_sum:shipyear_group", li,
      Seq(year(col("l_shipdate"))), vol4, queries = Seq("q49"))
    // q68's gate: per-part value4 (Σ q_c·price_c over the part's shipments,
    // here bounded by the UNFILTERED per-part aggregate — the audited worst
    // case over any nation filter) cross-multiplied with the part count
    val perPart = li
      .select(col("l_partkey"), c2(col("l_quantity")).as("q_c"))
      .join(broadcast(Tables.part(spark, dir)
        .select(col("p_partkey"), c2(col("p_retailprice")).as("price_c"))),
        col("l_partkey") === col("p_partkey"))
      .groupBy(col("l_partkey"))
      .agg(sum(col("q_c") * col("price_c")).as("value4"),
        count(lit(1)).as("n"), count(col("q_c") * col("price_c")).as("nn"))
    val nParts = perPart.agg(count(lit(1)).cast("decimal(38,0)").as("np"),
      sum(col("value4")).as("tot"),
      sum(col("n")).as("rows_total"), sum(col("nn")).as("rows_nonnull"),
      count(col("value4")).as("np_nonnull"), count(lit(1)).as("np_l")).head()
    val np = BigDecimal(nParts.getDecimal(0))
    val tot = Option(nParts.getDecimal(1)).map(BigDecimal(_))
    // Fail closed on ANY dropped term: per-row null products (skipped by the
    // per-part sum) or per-part null value4 (skipped by sum(tot)/max below).
    val allMeasured = np == 0 ||
      (nParts.getLong(2) == nParts.getLong(3) && nParts.getLong(4) == nParts.getLong(5))
    val maxV = perPart.agg(max(abs(col("value4")).cast("decimal(38,0)"))).head()
    val mv = Option(maxV.getDecimal(0)).map(BigDecimal(_))
    // both sides of the gate: value4·n_parts and 2·total4. Empty perPart is
    // a measured zero; a null or partially-null aggregate with parts present
    // fails closed.
    val gateWorst =
      if (np == 0) Some(BigDecimal(0))
      else if (!allMeasured) None
      else for { t <- tot; m <- mv } yield (m * np).max(t * 2)
    // q68's escape is the registered q72 decimal form (the gate is long
    // cross-multiplication, not an xsum aggregate)
    val gate = Headroom("gate_cross_mult", gateWorst, queries = Seq("q68"))
    val ev = Tables.events(spark, dir)
    // --- the 2^53 cast-fidelity rows (ADVICE r15 / the cents2 boundary) --
    // Every output ends in `.cast("double") / 10^s`; these rows watch the
    // INTEGER magnitude that enters that cast (see [[Ceiling53]]: alarm at
    // the true 100% boundary — drift, not garbage, and still hash-
    // identical cross-engine). Escape: emit the scaled integer itself (the
    // registered q77 integer-cents form) — an exact Sum128 only moves
    // where the sum lives, the final double cast still rounds. Coverage rule: a grouped/framed cast is
    // bounded by its family's GLOBAL row (terms are nonnegative), so the
    // global rows here bound q13/q16/q74's per-group cents, q54's
    // per-order qty, q44/q47's per-user/day frames, etc.
    // cents2 class: q12's per-group charge cents ≤ W_revenue/10^4; every
    // other cents2 member (per-group Σvol4/10^2 with vol4 ≤ charge/10^2
    // row-wise) sits under the same bound.
    // Every cents2 member has its integer-cents escape (r17): the
    // engine-level GRAFT_CENTS_OUT switch routes q12/q73 → q77's form,
    // q13 → q78's, q16/q74 → q79's (HALF_UP cents as BIGINT — no double
    // cast left), so this row releases under that switch.
    val centsDouble = Headroom("cast_double:cents2",
      revenue.worst.map(_ / BigDecimal(10000)),
      queries = Seq("q12", "q13", "q16", "q73", "q74"),
      ceiling = Ceiling53, alarmAt = 1.0, centsSwitchCovers = true)
    // direct 1e-2/1e-4 casts of value sums: each member's OWN filtered
    // term (the r14 nation-row lesson — an unfiltered Σvol4 bound would
    // read 100% of 2^53 near sf3 while q48's actual one-year/band/
    // price·disc sum crosses only near sf~2500: a 1000× false alarm).
    // q53's below-avg cut is bounded by its brand scope (the filter only
    // shrinks); q12's per-group Σp2/Σq2 are bounded by the global Σp2
    // (qty ≤ 50 ≪ price row-wise). Three conditional sums in ONE
    // broadcast-dim scan + the events-value family in one more.
    val disc4 = abs(round(col("l_extendedprice") * col("l_discount") * lit(10000))
      .cast("decimal(38,0)"))
    val tP2 = abs(c2(col("l_extendedprice")))
    val tV4 = abs(vol4).cast("decimal(38,0)")
    val q2i = round(col("l_quantity") * lit(100)).cast("long")
    val c48 = col("l_shipdate") >= lit("1996-01-01").cast("timestamp") &&
      col("l_shipdate") < lit("1997-01-01").cast("timestamp") &&
      col("l_discount").between(0.02, 0.04) && col("l_quantity") < 24
    val c53 = col("p_brand") === "Brand#1"
    val c55 =
      (col("p_brand") === "Brand#1" && col("p_size").between(1, 10) &&
        q2i.between(500L, 2000L)) ||
      (col("p_brand") === "Brand#2" && col("p_size").between(5, 20) &&
        q2i.between(1000L, 3000L)) ||
      (col("p_brand") === "Brand#3" && col("p_size").between(10, 40) &&
        q2i.between(2000L, 5000L))
    // q12's group casts: the whole-scan Σp2 bounds every group
    val c12 = lit(true)
    // LEFT join: an inner join would silently drop fact rows with no part
    // match from the q12/q48 whole-scan bounds (a null p_brand/p_size just
    // falls out of the c53/c55 conditions, which is those members' own
    // inner-join semantics)
    val castScan = li.join(broadcast(Tables.part(spark, dir)
        .select(col("p_partkey"), col("p_brand"), col("p_size"))),
      col("l_partkey") === col("p_partkey"), "left")
    val castTerms = Seq(
      ("q48", c48, disc4), ("q53", c53, tP2), ("q55", c55, tV4), ("q12", c12, tP2))
    val cr = castScan.agg(
      count(lit(1)).as("n"),
      castTerms.flatMap { case (m, cond, t) => Seq(
        sum(when(cond, t).otherwise(lit(0))).as(s"s_$m"),
        // fail-closed accounting: a selected row whose term is null would
        // be silently skipped by sum — count those directly
        count(when(cond && t.isNull, lit(1))).as(s"null_$m"))
      }: _*).head()
    val cRows = cr.getLong(0)
    def castW(m: String): Option[BigDecimal] =
      if (cRows == 0L) Some(BigDecimal(0))
      else if (cr.getLong(cr.fieldIndex(s"null_$m")) != 0L) None
      else Option(cr.getDecimal(cr.fieldIndex(s"s_$m"))).map(BigDecimal(_))
    val castWorsts = castTerms.map { case (m, _, _) => castW(m) }
    // r18 (VERDICT r17 item 3): both remaining cast rows are now fully
    // covered by the cents switch — q48/q75 route to the q80 form and
    // q53/q55 in place (value_sums); q23 routes to the q81 form and
    // q11/q30/q44/q47 in place (event_value) — so a measured crossing
    // releases under GRAFT_CENTS_OUT=1 like the cents2 row.
    val valueDouble = Headroom("cast_double:value_sums",
      if (castWorsts.exists(_.isEmpty)) None else Some(castWorsts.flatten.max),
      queries = Seq("q12", "q48", "q53", "q55", "q73", "q75"),
      ceiling = Ceiling53, alarmAt = 1.0, centsSwitchCovers = true)
    val evDouble = sumHeadroom("cast_double:event_value",
      ev, round(col("value") * lit(100)),
      queries = Seq("q11", "q22", "q23", "q30", "q44", "q47"))
      .copy(ceiling = Ceiling53, alarmAt = 1.0, centsSwitchCovers = true)
    // --- r18 wave 2: the remaining grouped/entity output casts ----------
    // Each row takes the max of grouped worsts measured above and compares
    // it to 2^53 — the
    // grouped revenue classes (fixed group counts, linearly growing sums)
    // cross FIRST of all cast families: orderyear 4.8e12 at sf0.01 →
    // ~sf19; suppnation ~sf28; nation ~sf60. Every member routes to an
    // integer-cents output under GRAFT_CENTS_OUT (in place, oracles via
    // oracleSqlFor), so measured crossings release like the other rows.
    def maxWorst(hs: Headroom*): Option[BigDecimal] =
      if (hs.exists(_.worst.isEmpty)) None else Some(hs.flatMap(_.worst).max)
    val groupedRevDouble = Headroom("cast_double:grouped_revenue",
      maxWorst(nation, orderyear, suppnation, yearly),
      queries = Seq("q34", "q40", "q41", "q49", "q76"),
      ceiling = Ceiling53, alarmAt = 1.0, centsSwitchCovers = true)
    // entity classes (per-customer/order/supplier sums) are CONSTANT in SF
    // on this geometry — per-entity row counts don't grow with volume — so
    // this row alarms only under genuine key skew, which is exactly when
    // its members' casts really drift. The 1e-4-scale worsts dominate the
    // 1e-2-scale members (q08's spend, q29's price ≤ vol4-scale / ~90), so
    // one max bounds all five.
    val entityRevDouble = Headroom("cast_double:entity_revenue",
      maxWorst(custkey, orderkey, suppkey),
      queries = Seq("q08", "q29", "q32", "q35", "q56"),
      ceiling = Ceiling53, alarmAt = 1.0, centsSwitchCovers = true)
    // q18's rollup grand-total IS the global acctbal sum (tight); q43's
    // segments partition a filtered subset of the same rows (≤ global)
    val acctbalDouble = sumHeadroom("cast_double:acctbal", Tables.customer(spark, dir),
      c2(col("c_acctbal")), queries = Seq("q18", "q43"))
      .copy(ceiling = Ceiling53, alarmAt = 1.0, centsSwitchCovers = true)
    // q59's ALL/ALL cube cell is exactly the global qty sum; q54's
    // per-order frames sit far under it
    val qtyDouble = sumHeadroom("cast_double:qty", li, c2(col("l_quantity")),
      queries = Seq("q54", "q59"))
      .copy(ceiling = Ceiling53, alarmAt = 1.0, centsSwitchCovers = true)
    Seq(gate, centsDouble, valueDouble, evDouble,
      groupedRevDouble, entityRevDouble, acctbalDouble, qtyDouble)
  }

  /** Table rendering of [[audit]] for ops surfaces: one row per
    * (family, grouping-class). */
  def auditDf(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    audit(spark, dir)
      .map(h => (h.family, h.worst.map(_.toDouble).getOrElse(Double.NaN), h.fraction,
        h.ok, h.queries.mkString(","), h.centsSwitchCovers))
      .toDF("family", "worst_case", "fraction_of_ceiling", "ok",
        "queries", "cents_switch_covers")
  }
}
