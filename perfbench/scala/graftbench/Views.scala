package graftbench

import java.nio.file.Path

import org.apache.spark.sql.{DataFrame, Row}

import graft.SparkEntry

import scala.collection.mutable

/** The read side beside the sync's writes: one client runs a fixed mix of
  * SparkEntry queries closed-loop over seeded tables with the testdata
  * schema. One operation is one query, collected to the client.
  */
final class Views extends Workload {
  private var dir: String = _
  private var outDir: Path = _
  private val firstDigest = mutable.HashMap.empty[String, String]
  private val ops = mutable.HashMap.empty[String, Long].withDefaultValue(0L)
  private val bad = mutable.Set.empty[String]
  /** query -> rows in the tables it reads */
  private val inputRows = mutable.HashMap.empty[String, Long]
  private val tableRows = mutable.HashMap.empty[String, Long]

  def setup(ctx: Ctx): Unit = {
    dir = ctx.inputs.resolve("tables").toString
    outDir = ctx.work.resolve("out")
    // open the tables: row counts from their footers
    tableRows.clear()
    Views.Tables.foreach(t => tableRows(t) = Main.parquetRows(ctx.spark, s"$dir/$t.parquet"))
  }

  /** Run `q` and check its output. */
  private def runQuery(ctx: Ctx, q: String): Double = {
    val t0 = System.nanoTime()
    val (df, rows) = ctx.tracer.span("op", q) {
      ctx.tracer.span("SparkEntry", q) {
        val df = SparkEntry.queries(q)(ctx.spark, dir)
        (df, df.collect())
      }
    }
    val ms = (System.nanoTime() - t0) / 1e6
    check(ctx, q, df, rows)
    ms
  }

  private def check(ctx: Ctx, q: String, df: DataFrame, rows: Array[Row]): Unit = {
    ops(q) += 1
    val d = Main.resultDigest(rows)
    firstDigest.get(q) match {
      case None =>
        firstDigest(q) = d
        Main.saveRows(ctx.spark, df, rows, outDir.resolve(q))
        inputRows(q) = df.inputFiles.map { f =>
          tableRows.getOrElse(f.substring(f.lastIndexOf('/') + 1).stripSuffix(".parquet"), 0L)
        }.sum
      case Some(f) if f != d =>
        System.err.println(s"[views] $q output changed between runs")
        bad += q
      case _ =>
    }
  }

  /** Two untimed passes over the tables (smaller tables would get other
    * join plans; after one pass the first timed pass still ran a third
    * slower). The first pass's outputs are the ones saved for the oracle
    * comparison.
    */
  def warmup(ctx: Ctx): Unit = for (_ <- 1 to 2; q <- Views.Mix) runQuery(ctx, q)

  def measure(ctx: Ctx, seconds: Double): Phase = {
    val p = new Phase
    // whole passes over the mix, so every query weighs the same
    val passes = Main.repeat(seconds, 3) {
      val traced = ctx.beginUnit()
      traced -> Views.Mix.map(q => q -> runQuery(ctx, q))
    }
    ctx.tracer.disable()
    p.unitMs ++= passes.map(_._2.map(_._2).sum)
    val all = passes.flatMap(_._2)
    p.attempted = all.size
    p.failed = all.count { case (q, _) => bad.contains(q) }
    p.endToEnd(passes, (u: (Boolean, Seq[(String, Double)])) => u._1) { us =>
      val lat = us.flatMap(_._2)
      val ms = lat.map(_._2)
      Seq("rows_per_s" -> lat.map { case (q, _) => inputRows(q) }.sum / (ms.sum / 1e3),
        "latency_p50_s" -> Stats.quantile(ms, 0.5) / 1e3,
        "latency_p90_s" -> Stats.quantile(ms, 0.9) / 1e3)
    }
    val traced = passes.filter(_._1)
    if (traced.nonEmpty) {
      val lat = traced.flatMap(_._2)
      p.layers("SparkEntry.queries_run") = lat.size
      Views.Mix.foreach { q =>
        p.layers(s"SparkEntry.${q}_p50_ms") = Stats.median(lat.collect { case (`q`, m) => m }.toSeq)
      }
    }
    p
  }

  override def outputs: Map[String, (Path, Long)] =
    firstDigest.keys.map(k => k -> (outDir.resolve(k), ops(k))).toMap

  def headline: (String, Boolean) = ("latency_p50_s", false)
}

object Views {
  /** The profiles view, narrow and wide money-sum rollups, top-k ranks,
    * percentiles, deciles and KMV sketches.
    */
  val Mix: Seq[String] = Seq(
    "q08_profiles_view",
    "q12_pricing_summary", "q73_pricing_summary_wide",
    "q14_top_customers",
    "q26_price_percentiles",
    "q70_decile_bins",
    "q63_kmv_distinct")

  val Tables: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part", "orders", "lineitem", "events")
}
