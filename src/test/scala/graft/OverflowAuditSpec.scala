package graft

import org.apache.spark.sql.functions._
import graft.operators.OverflowAudit

/** The scaled-integer overflow audit (operators/OverflowAudit.scala): the
  * SURVEY §4 ceilings as a runnable deployment check. Green on the test
  * data, red on a constructed table that crosses the line — so a 100 TB
  * deployment DETECTS the moment it needs an escape (q72, the cents
  * forms) instead of remembering it.
  */
class OverflowAuditSpec extends SparkSpec {

  test("audit: every family and grouping-class has ample headroom on the test data") {
    val hs = OverflowAudit.audit(spark, sfDir)
    // every money sum runs through Sum128, so the only 2⁶³ row left is q68's
    // long gate; the rest watch the 2^53 output casts
    assert(hs.map(_.family).toSet == Set(
      "gate_cross_mult",
      "cast_double:cents2", "cast_double:value_sums", "cast_double:event_value",
      "cast_double:grouped_revenue", "cast_double:entity_revenue",
      "cast_double:acctbal", "cast_double:qty"))
    val byFam = hs.map(h => h.family -> h.queries).toMap
    assert(byFam("cast_double:grouped_revenue") == Seq("q34", "q40", "q41", "q49", "q76"))
    hs.foreach { h =>
      assert(h.ok, s"family past the 10% alarm line: $h")
      // the documented margin: nothing in the verified range is within
      // 500× of a ceiling, so the test-SF fraction must be far below
      // even the alarm line
      assert(h.fraction < 0.002, s"unexpectedly little headroom at test SF: $h")
      assert(h.worst.exists(_ > 0), s"audit computed an empty worst case: $h")
      assert(h.queries.nonEmpty, s"row names no registered queries: $h")
    }
  }

  test("groupedSumHeadroom: max per-group sum, not the global sum") {
    import spark.implicits._
    // two groups: a ~2^61 group (trips 10% line alone) and a tiny one —
    // the GLOBAL sum would read ~2^62; the grouped bound must be the max
    // group, proving it measures the arithmetic a grouped query runs
    val df = (Seq.fill(2)(("hot", 1L << 60)) ++ Seq(("cold", 5L))).toDF("g", "v")
    val h = OverflowAudit.groupedSumHeadroom("g", df, Seq(col("g")), col("v"))
    assert(h.worst.contains(BigDecimal(BigInt(1) << 61)), s"wrong grouped worst: $h")
    assert(!h.ok, "a 2^61 per-group sum is past the 10% alarm line")
    // below the line: same shape, small values
    val small = Seq(("a", 10L), ("a", 3L), ("b", 9L)).toDF("g", "v")
    val hs = OverflowAudit.groupedSumHeadroom("g", small, Seq(col("g")), col("v"))
    assert(hs.ok && hs.worst.contains(BigDecimal(13)))
    // fail-closed contract carried over: per-row null terms and empty input
    val withNull = Seq(("a", Some(1L)), ("a", None), ("b", Some(2L)))
      .toDF("g", "v")
    val hn = OverflowAudit.groupedSumHeadroom("g", withNull, Seq(col("g")), col("v"))
    assert(!hn.ok && hn.worst.isEmpty, s"per-row null terms must fail closed: $hn")
    val he = OverflowAudit.groupedSumHeadroom("g",
      Seq.empty[(String, Long)].toDF("g", "v"), Seq(col("g")), col("v"))
    assert(he.ok && he.worst.contains(BigDecimal(0)), "zero groups cannot overflow")
  }

  test("gates: q68's gate and unmeasurable rows gate in every mode") {
    val gateRow = OverflowAudit.Headroom("gate_cross_mult", Some(OverflowAudit.Ceiling),
      queries = Seq("q68"))
    assert(!gateRow.ok)
    // q68's long cross-mult gate trips whatever the cents switch says (its
    // escape is the registered q72 decimal form)
    assert(gateRow.gates(centsOutOn = false) && gateRow.gates(centsOutOn = true))
    // only a MEASURED crossing is releasable (ADVICE r14): an UNMEASURABLE
    // row signals the audit itself failed — a data/measurement anomaly no
    // switch removes — so it gates in every mode, even on a covered row
    val unmeasurable = OverflowAudit.Headroom("cast_double:cents2", None,
      queries = Seq("q13"), centsSwitchCovers = true)
    assert(!unmeasurable.ok)
    assert(unmeasurable.gates(centsOutOn = false))
    assert(unmeasurable.gates(centsOutOn = true),
      "an unmeasurable row must keep gating under the cents switch — fail closed")
    // and the Verify-level gate expression
    def gateOk(rows: Seq[OverflowAudit.Headroom], cents: Boolean) =
      rows.forall(h => h.ok || !h.gates(cents))
    assert(!gateOk(Seq(gateRow), cents = true))
    assert(!gateOk(Seq(unmeasurable), cents = true))
  }

  test("audit: a constructed near-ceiling table trips the alarm") {
    import spark.implicits._
    // sums: ~200 rows of 2⁶⁰-sized terms ⇒ Σ ≈ 2.3·10²⁰ ≫ 10% of 2⁶³
    val big = (1L to 200L).map(_ => 1L << 60).toDF("term")
    val s = OverflowAudit.sumHeadroom("constructed_sum", big, col("term"))
    assert(!s.ok, s"a 200×2^60 sum must trip the 10% line: $s")
    // cross-mult: max|a|·max|b| = 2³²·2³² = 2⁶⁴ > ceiling
    val pairs = Seq((1L << 32, 4L), (8L, 1L << 32)).toDF("a", "b")
    val x = OverflowAudit.crossMultHeadroom("constructed_gate", pairs, col("a"), col("b"))
    assert(!x.ok, s"a 2^64 cross-multiplication must trip the line: $x")
    // and a safely small frame stays green — the alarm is not always-on
    val small = Seq((10L, 10L)).toDF("a", "b")
    assert(OverflowAudit.crossMultHeadroom("small", small, col("a"), col("b")).ok)
    assert(OverflowAudit.sumHeadroom("small", small, col("a")).ok)
  }

  test("cast_double: past 2^53 the double cast rounds; the integer-cents form does not") {
    import spark.implicits._
    // The exact claim the cast_double rows (ceiling = 2^53, alarm at 100%)
    // watch, and the q77 escape's raison d'être, demonstrated on the real
    // output shapes: an exact decimal(38,0) cents sum landing just PAST
    // 2^53 (odd, hence not representable — doubles there are even
    // integers) loses its last cent in `.cast("double")` while the BIGINT
    // cents output carries it exactly; the same sum just BELOW 2^53 is
    // cast-exact. (Cross-engine hash identity is untouched either way —
    // both engines round the same exact integer to the same nearest
    // double — which is why these rows guard FIDELITY, not determinism,
    // and why their escape is a representation change, not a wider sum.)
    val past = (BigDecimal(2).pow(53) + 1).toLong // odd: between 2^53 and 2^53+2
    val below = (BigDecimal(2).pow(53) - 1).toLong // all ints < 2^53 are exact
    def castPair(c: Long): (Double, Long) = {
      val r = Seq(c - 7L, 7L).toDF("cents")
        .agg(sum(col("cents").cast("decimal(38,0)")).as("s"))
        .select(col("s").cast("double").as("d"), col("s").cast("long").as("l"))
        .head()
      (r.getDouble(0), r.getLong(1))
    }
    val (dPast, lPast) = castPair(past)
    assert(lPast == past, "BIGINT cents must carry the exact sum")
    assert(BigDecimal(dPast) != BigDecimal(past),
      f"double($past%d) should have rounded past 2^53 but read $dPast%.1f")
    val (dBelow, lBelow) = castPair(below)
    assert(lBelow == below)
    assert(BigDecimal(dBelow) == BigDecimal(below),
      "below 2^53 the double cast must be exact")
    // Headroom semantics for the rows that watch this: alarm at the TRUE
    // boundary (alarmAt = 1.0, ceiling = 2^53), not the 10% line
    val watch = OverflowAudit.Headroom("cast", Some(BigDecimal(2).pow(53) / 2),
      queries = Seq("q"), ceiling = OverflowAudit.Ceiling53, alarmAt = 1.0)
    assert(watch.ok, s"50% of 2^53 must NOT alarm at alarmAt=1.0: $watch")
    val crossed = watch.copy(worst = Some(BigDecimal(2).pow(53) * 1.05))
    assert(!crossed.ok, s"105% of 2^53 must alarm: $crossed")
    // r17: the integer-cents OUTPUT switch is the escape that does release
    // a cents2 crossing — the members' double cast no longer exists — but
    // only rows whose every member has a registered cents form, and only
    // MEASURED crossings (the fail-closed rule)
    val centsCovered = crossed.copy(centsSwitchCovers = true)
    assert(!centsCovered.gates(centsOutOn = true),
      "GRAFT_CENTS_OUT must release a covered cents2 crossing")
    assert(centsCovered.gates(centsOutOn = false),
      "without the cents switch the cents2 crossing keeps gating")
    assert(crossed.gates(centsOutOn = true),
      "the cents switch must NOT release rows it does not cover (centsSwitchCovers=false)")
    assert(centsCovered.copy(worst = None).gates(centsOutOn = true),
      "an unmeasurable row must keep gating under the cents switch — fail closed")
  }

  test("audit fails closed: a null aggregate over non-empty input is never ok") {
    import spark.implicits._
    // all-null terms: rows exist, the sum is null — the audit must refuse
    // to call that "headroom", not default worst to 0
    val allNull = Seq[Option[Long]](None, None).toDF("term")
    val h = OverflowAudit.sumHeadroom("nulls", allNull, col("term"))
    assert(!h.ok && h.worst.isEmpty, s"null aggregate must be UNMEASURABLE: $h")
    val xh = OverflowAudit.crossMultHeadroom("nulls", allNull.withColumn("b", col("term")),
      col("term"), col("b"))
    assert(!xh.ok && xh.worst.isEmpty, s"null max must be UNMEASURABLE: $xh")
    // the audit's own decimal(38,0) sum wrapping (non-ANSI → null): the one
    // regime past every ceiling — exactly where failing open would be worst
    val wrap = Seq(1, 2).toDF("i").select(expr("cast(9e37 as decimal(38,0))").as("term"))
    val hw = OverflowAudit.sumHeadroom("wrap", wrap, col("term"))
    assert(!hw.ok, s"decimal overflow inside the audit must fail closed: $hw")
    // PARTIAL nulls: sum/max silently skip null rows, so a measurement over
    // a mixed frame would understate the worst case — must also fail closed
    val partial = Seq[Option[Long]](Some(5L), None, Some(7L)).toDF("term")
    val hp = OverflowAudit.sumHeadroom("partial", partial, col("term"))
    assert(!hp.ok && hp.worst.isEmpty, s"per-row null terms must be UNMEASURABLE: $hp")
    val xp = OverflowAudit.crossMultHeadroom("partial",
      partial.withColumn("b", lit(3L)), col("term"), col("b"))
    assert(!xp.ok && xp.worst.isEmpty, s"per-row null factor must be UNMEASURABLE: $xp")
    // empty input stays a measured zero — zero rows cannot overflow anything
    assert(OverflowAudit.sumHeadroom("empty", Seq.empty[Long].toDF("term"), col("term")).ok)
    assert(OverflowAudit.crossMultHeadroom(
      "empty", Seq.empty[(Long, Long)].toDF("a", "b"), col("a"), col("b")).ok)
  }

  test("auditDf: one row per (family, grouping-class) with verdict and members") {
    val rows = OverflowAudit.auditDf(spark, sfDir).collect()
    assert(rows.length == 8)
    assert(rows.forall(_.getBoolean(3)))
    assert(rows.forall(_.getString(4).nonEmpty), "every row must name its queries")
    val castRows = Set(
      "cast_double:cents2", "cast_double:value_sums", "cast_double:event_value",
      "cast_double:grouped_revenue", "cast_double:entity_revenue",
      "cast_double:acctbal", "cast_double:qty")
    // rows released by the integer-cents output switch: ALL cast rows
    // (r17/r18) — every member routes to an integer-cents output form
    // under GRAFT_CENTS_OUT (registered q77-q81 or in place) and has a
    // cents oracle (oracleSqlFor), so the switch may release any measured
    // crossing among them
    assert(rows.filter(_.getBoolean(5)).map(_.getString(0)).toSet == castRows)
  }

  test("Verify exit-code contract: 1=dumps incomplete, 2=gate tripped, 0=clean") {
    // the distinct-code contract sf10+ automation relies on
    // (tools/check_verify.py `verify_exit=`): a dump failure makes the
    // artifacts worthless and DOMINATES the gate state; a tripped gate over
    // complete dumps is the recoverable "take the escape" state
    assert(Verify.exitCode(dumpFailures = 0, gateOk = true) == 0)
    assert(Verify.exitCode(dumpFailures = 0, gateOk = false) == 2)
    assert(Verify.exitCode(dumpFailures = 1, gateOk = true) == 1)
    assert(Verify.exitCode(dumpFailures = 3, gateOk = false) == 1)
  }
}
