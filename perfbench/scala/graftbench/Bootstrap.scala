package graftbench

import java.nio.file.Files

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.expressions.PyLiteralJson
import graft.operators.RowFilter
import graft.sinks.JdbcUpsertSink
import graft.sources.{DirectImport, ExportCatalog, LoadPlan}

import scala.collection.mutable.ArrayBuffer

/** Cold catch-up of one table, the way the reference does it: list and
  * plan the export directory, import the full export row group by row
  * group (a graceful stop fires mid-full and a second run resumes from the
  * markers), then each planned incremental. Every batch is JSON-cleaned and
  * upserted through [[JdbcUpsertSink]] into the [[StandIn]] table.
  *
  * One operation is one sink batch; a unit is one whole catch-up cycle.
  */
final class Bootstrap extends Workload {
  private val Table = "public.casts"
  private val BatchRows = 1000
  /** Batches of a traced cycle whose cleaning is re-run alone, to split
    * `expressions.clean_ms` from `sinks.write_ms`.
    */
  private val Probes = 4
  private val PropsSchema = StructType(Seq(
    StructField("a", LongType), StructField("b", StringType), StructField("c", BooleanType)))

  /** One export directory and what the generator expects of it. */
  private final case class Export(
      dir: String, planned: Seq[String], fullBatches: Int, digest: String, liveRows: Long,
      filter: Column, plannedRows: Long, filteredRows: Long, fullRows: Long)

  private var main: Export = _
  private var cycles = 0

  private def export(ctx: Ctx, dir: String, m: Map[String, Any]): Export = {
    val plan = catalog(ctx, dir)
    Export(dir,
      m("planned").asInstanceOf[Seq[Any]].map(_.toString),
      SimpleJson.long(m("full_batches")).toInt,
      m("digest").toString,
      SimpleJson.long(m("live_rows")),
      RowFilter.compile(m("filter").toString),
      plan.parquetPaths.map(Main.parquetRows(ctx.spark, _)).sum,
      SimpleJson.long(m("filtered_rows")),
      Main.parquetRows(ctx.spark, plan.full.path))
  }

  def setup(ctx: Ctx): Unit = {
    val m = SimpleJson.parse(new String(Files.readAllBytes(ctx.inputs.resolve("expected.json")), "UTF-8"))
      .asInstanceOf[Map[String, Any]]
    main = export(ctx, ctx.inputs.resolve("export").toString, m)
    StandIn.drop(Table)
  }

  private def catalog(ctx: Ctx, dir: String): LoadPlan =
    ExportCatalog.plan(ExportCatalog.list(ctx.spark, dir), "casts")
      .getOrElse(sys.error("no full export planned"))

  /** The per-batch JSON cleaning: Python-literal repair, then strict parse. */
  private def clean(df: DataFrame): DataFrame =
    df.select(col("id"), col("updated_at"), col("fid"), col("kind"), col("value_c"),
        from_json(PyLiteralJson.pyJsonNormalize(col("props")), PropsSchema).as("p"))
      .select(col("id"), col("updated_at"), col("fid"), col("kind"), col("value_c"),
        col("p.a").as("prop_a"), col("p.b").as("prop_b"), col("p.c").as("prop_c"))

  private def upsert(table: String, cleaned: DataFrame): Unit =
    JdbcUpsertSink.write(cleaned, s"public.$table", Seq("id"), "updated_at", BatchRows,
      () => StandIn.connect())

  /** Per-cycle observations. */
  private final class Cycle(val traced: Boolean) {
    val batchMs = ArrayBuffer.empty[Double]
    /** (cleaned batch, its write call's ms) of the full import, traced only */
    val written = ArrayBuffer.empty[(DataFrame, Double)]
    var sinkNs = 0L
    var importNs = 0L
    var catalogMs = 0.0
    var wallS = 0.0
    var ok = true
    var standInNs = 0L
    var statements = 0L
    var rowsBound = 0L
  }

  private def cycle(ctx: Ctx, exp: Export, traced: Boolean): Cycle = {
    val c = new Cycle(traced)
    val tracer = ctx.tracer
    val tracking = ctx.fresh(s"tracking-${cycles}").toString
    cycles += 1
    StandIn.drop(Table)
    val (ns0, st0, rb0) = (StandIn.nanos.sum(), StandIn.statements.sum(), StandIn.rowsBound.sum())
    var inRun = 0
    var inFull = false
    val sink: (String, DataFrame) => Unit = (table, df) => {
      val t0 = System.nanoTime()
      tracer.span("sources", "sink_batch") {
        val cleaned = clean(df)
        tracer.span("sinks", "write")(upsert(table, cleaned))
        if (traced && inFull) c.written += cleaned -> (System.nanoTime() - t0) / 1e6
      }
      val ns = System.nanoTime() - t0
      c.sinkNs += ns
      c.batchMs += ns / 1e6
      inRun += 1
    }
    def importFile(name: String, path: String, stopAfter: Int): DirectImport.Result = {
      inRun = 0
      inFull = name.startsWith("import_full")
      val t0 = System.nanoTime()
      val r = tracer.span("sources", name) {
        DirectImport.run(ctx.spark, path, tracking, sink, rowFilter = Some(exp.filter),
          shouldStop = () => stopAfter > 0 && inRun >= stopAfter)
      }
      c.importNs += System.nanoTime() - t0
      r
    }

    val t0 = System.nanoTime()
    tracer.span("op", "bootstrap_cycle") {
      val plan = tracer.span("sources", "catalog")(catalog(ctx, exp.dir))
      c.catalogMs = (System.nanoTime() - t0) / 1e6
      val planned = (plan.full +: plan.incrementals).map(f => f.path.substring(f.path.lastIndexOf('/') + 1))
      if (planned != exp.planned) {
        System.err.println(s"[bootstrap] plan mismatch: $planned vs ${exp.planned}")
        c.ok = false
      }
      val full = plan.full.path
      val stopAfter = math.max(1, exp.fullBatches / 2)
      val r1 = importFile("import_full", full, stopAfter)
      val r2 = importFile("import_full_resume", full, 0)
      if (r1.done || !r2.done || r1.batches != stopAfter || r1.batches + r2.batches != exp.fullBatches) {
        System.err.println(s"[bootstrap] resume mismatch: $r1 then $r2")
        c.ok = false
      }
      plan.incrementals.foreach { f =>
        val r = importFile("import_incremental", f.path, 0)
        if (!r.done) c.ok = false
      }
    }
    c.wallS = (System.nanoTime() - t0) / 1e9
    c.standInNs = StandIn.nanos.sum() - ns0
    c.statements = StandIn.statements.sum() - st0
    c.rowsBound = StandIn.rowsBound.sum() - rb0
    val (digest, live) = tableDigest()
    if (digest != exp.digest || live != exp.liveRows) {
      System.err.println(s"[bootstrap] digest mismatch: $digest/$live vs ${exp.digest}/${exp.liveRows}")
      c.ok = false
    }
    ctx.fresh(s"tracking-${cycles - 1}")
    c
  }

  /** The generator's digest over the stand-in table: the sum of the first
    * 8 bytes of SHA-256 over each `|`-joined row, mod 2^64.
    */
  private def tableDigest(): (String, Long) = {
    val t = StandIn.table(Table).getOrElse(return ("0", 0L))
    var sum = 0L
    var n = 0L
    t.rows.values().forEach { r =>
      sum += Digest.rowHash(r.map(v => if (v == null) null else v.toString))
      n += 1
    }
    (java.lang.Long.toUnsignedString(sum), n)
  }

  /** One whole catch-up, untimed (after only half of one, or after a
    * smaller export's, the first timed cycle still ran slower).
    */
  def warmup(ctx: Ctx): Unit = cycle(ctx, main, traced = false)

  /** After a traced cycle, outside its timing: re-run the scan, filter and
    * cleaning of a few full-import batches alone, materialized into a noop
    * sink. Returns (clean ms, write ms net of it) per probed batch.
    */
  private def probe(ctx: Ctx, c: Cycle): Seq[(Double, Double)] = {
    val step = math.max(1, c.written.size / Probes)
    c.written.indices.by(step).take(Probes).map { i =>
      val (cleaned, writeMs) = c.written(i)
      val t0 = System.nanoTime()
      cleaned.write.format("noop").mode("overwrite").save()
      val ms = (System.nanoTime() - t0) / 1e6
      (ms, writeMs - ms)
    }
  }

  def measure(ctx: Ctx, seconds: Double): Phase = {
    val p = new Phase
    val probes = ArrayBuffer.empty[(Double, Double)]
    StandIn.resetStats()
    val cs = Main.repeat(seconds, 2) {
      val c = cycle(ctx, main, ctx.beginUnit())
      ctx.tracer.disable()
      if (c.traced) probes ++= probe(ctx, c)
      c
    }
    p.unitMs ++= cs.map(_.wallS * 1e3)
    cs.foreach { c =>
      p.attempted += c.batchMs.size
      if (!c.ok) p.failed += c.batchMs.size
    }
    p.endToEnd(cs, (c: Cycle) => c.traced) { us =>
      val batches = us.flatMap(_.batchMs)
      Seq("rows_per_s" -> Stats.median(us.map(main.plannedRows / _.wallS)),
        "latency_p50_s" -> Stats.quantile(batches, 0.5) / 1e3,
        "latency_p90_s" -> Stats.quantile(batches, 0.9) / 1e3)
    }
    val ts = cs.filter(_.traced)
    if (ts.nonEmpty) {
      val n = ts.size.toDouble
      val batches = ts.flatMap(_.batchMs)
      val l = p.layers
      l("sources.catalog_ms") = Stats.median(ts.map(_.catalogMs))
      l("sources.import_batches") = batches.size / n
      l("sources.batch_p50_ms") = Stats.median(batches)
      l("sources.batch_max_ms") = batches.max
      l("sources.bookkeeping_ms") = Stats.median(ts.map(c => (c.importNs - c.sinkNs) / 1e6))
      // parquet records the full export's import read (its batch scans run
      // inside the sink's write jobs), per row of the full
      val byGroup = ctx.tracer.counters()
      val scanned = ctx.tracer.all.filter(s => s.name.startsWith("import_full"))
        .map(s => ctx.tracer.inclusive(s, byGroup).inputRecords).sum
      l("sources.scan_amplification") = scanned.toDouble / (main.fullRows * n)
      l("expressions.clean_ms") = Stats.median(probes.map(_._1).toSeq)
      l("sinks.write_ms") = Stats.median(probes.map(_._2).toSeq)
      val bound = ts.map(_.rowsBound).sum
      l("sinks.rows_per_statement") = bound.toDouble / math.max(1L, ts.map(_.statements).sum)
      l("sinks.dedup_dropped_rows") = main.filteredRows - bound / n
      l("sinks.standin_ms") = ts.map(_.standInNs).sum / 1e6 / n
      l("sinks.max_connections") = StandIn.maxOpen.get
    }
    p
  }

  def headline: (String, Boolean) = ("rows_per_s", true)
}

/** The row digest shared with the input generator. */
object Digest {
  def rowHash(fields: Seq[String]): Long = {
    val line = fields.map(f => if (f == null) "\\N" else f).mkString("|")
    val d = java.security.MessageDigest.getInstance("SHA-256").digest(line.getBytes("UTF-8"))
    java.nio.ByteBuffer.wrap(d, 0, 8).getLong
  }
}
