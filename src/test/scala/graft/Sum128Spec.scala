package graft

import org.apache.spark.sql.functions._

/** r18: the exact-sum path (`SparkEntry.xsum`) swapped
  * `sum(cast(x as decimal(38,0)))` for the two-long Sum128
  * DeclarativeAggregate — these pin exact equality of the two forms
  * (values, nulls, empty groups) so the swap can never drift.
  */
class Sum128Spec extends SparkSpec {

  private def sum128(c: org.apache.spark.sql.Column) =
    org.apache.spark.sql.graft.ColumnBridge.column(
      graft.expressions.Sum128(
        org.apache.spark.sql.graft.ColumnBridge.expression(c)).toAggregateExpression())

  test("sum128 ≡ sum(cast decimal(38,0)) on random ±2^63-range longs, grouped") {
    import spark.implicits._
    val rnd = new scala.util.Random(7)
    // values across the whole long range, many per group, so lo-word
    // carries and sign-extension both fire; include exact Long.MinValue
    val rows = (1 to 5000).map { i =>
      val v = rnd.nextInt(4) match {
        case 0 => rnd.nextLong()
        case 1 => rnd.nextLong() >> 32
        case 2 => Long.MaxValue - rnd.nextInt(1000)
        case _ => Long.MinValue + rnd.nextInt(1000)
      }
      (i % 17, v)
    } :+ ((3, Long.MinValue))
    val df = rows.toDF("g", "x").repartition(7)
    val got = df.groupBy($"g").agg(sum128($"x").as("s")).collect()
      .map(r => r.getInt(0) -> r.getDecimal(1)).toMap
    val want = df.groupBy($"g").agg(sum($"x".cast("decimal(38,0)")).as("s")).collect()
      .map(r => r.getInt(0) -> r.getDecimal(1)).toMap
    assert(got.keySet == want.keySet)
    got.foreach { case (g, s) =>
      assert(s.compareTo(want(g)) == 0, s"group $g: sum128=$s decimal=${want(g)}")
    }
    // cross-check one group against BigInt ground truth
    val g0 = rows.filter(_._1 == 0).map(r => BigInt(r._2)).sum
    assert(BigDecimal(got(0)) == BigDecimal(g0))
  }

  test("sum128 null semantics mirror sum: nulls skipped, all-null group is NULL") {
    import spark.implicits._
    val df = Seq[(Int, Option[Long])](
      (1, Some(5L)), (1, None), (1, Some(-7L)),
      (2, None), (2, None)).toDF("g", "x")
    val out = df.groupBy($"g").agg(sum128($"x").as("s"), sum($"x".cast("decimal(38,0)")).as("d"))
      .collect().map(r => r.getInt(0) -> (r.get(1), r.get(2))).toMap
    assert(out(1)._1 != null && BigDecimal(out(1)._1.asInstanceOf[java.math.BigDecimal]) == BigDecimal(-2))
    assert(out(2)._1 == null && out(2)._2 == null)
  }

  test("sum128 survives a sum past 2^63 (the whole point of the wide buffer)") {
    import spark.implicits._
    // 4000 copies of 2^61: Σ = 2^73 — wraps a 64-bit sum 512 times over
    val df = Seq.fill(4000)(1L << 61).toDF("x")
    val got = df.agg(sum128($"x")).collect()(0).getDecimal(0)
    assert(BigDecimal(got) == BigDecimal(BigInt(1) << 61) * 4000)
  }

  test("wide xsum queries plan sum128 through HashAggregate with a partial step") {
    val df = SparkEntry.queries("q74_brand_volume_wide")(spark, sfDir)
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("partial_sum128"), "map-side partial aggregation missing:\n" + p)
    assert(p.contains("HashAggregate"), "sum128 must use the row-based hash aggregate:\n" + p)
  }
}
