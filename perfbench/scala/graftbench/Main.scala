package graftbench

import java.nio.file.{Files, Path, Paths}

import org.apache.spark.sql.{DataFrame, Row, SparkSession}

import scala.collection.mutable

/** Minimal JSON writing (the result file and span lines). */
object Json {
  def esc(s: String): String = s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  }

  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null" else java.math.BigDecimal.valueOf(d).toPlainString

  def obj(fields: Seq[(String, String)]): String =
    fields.map { case (k, v) => s""""${esc(k)}":$v""" }.mkString("{", ",", "}")

  def str(s: String): String = "\"" + esc(s) + "\""
}

object Stats {
  /** Linear-interpolated quantile (numpy's default). */
  def quantile(xs: Seq[Double], q: Double): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      val pos = q * (s.size - 1)
      val lo = math.floor(pos).toInt
      val hi = math.min(lo + 1, s.size - 1)
      s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }

  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)
}

/** What one workload needs from the harness. */
final case class Ctx(
    spark: SparkSession,
    tracer: Tracer,
    inputs: Path,
    work: Path,
    traceMode: Boolean) {
  private var units = 0

  /** Start one measured unit (cycle, stream run, pipeline, pass). In a
    * traced run the units alternate untraced and traced in ABBA order
    * (untraced, traced, traced, untraced, ...), so both kinds run in the
    * same phase, on the same JVM warmth and inputs. Returns whether this
    * unit is traced.
    */
  def beginUnit(): Boolean = {
    val t = traceMode && (units % 4 == 1 || units % 4 == 2)
    units += 1
    if (t) tracer.enable() else tracer.disable()
    t
  }

  def traced: Boolean = tracer.enabled

  def fresh(name: String): Path = {
    val p = work.resolve(name)
    Files.createDirectories(p.getParent)
    Main.deleteTree(p)
    p
  }
}

/** One measurement phase's outcome. `e2e` holds the end-to-end metrics of
  * the untraced units, `e2eTraced` those of the traced units, and `layers`
  * the per-layer metrics (from the traced units only).
  */
final class Phase {
  var attempted = 0L
  var failed = 0L
  val e2e = mutable.LinkedHashMap.empty[String, Double]
  val e2eTraced = mutable.LinkedHashMap.empty[String, Double]
  val layers = mutable.LinkedHashMap.empty[String, Double]
  /** Wall time of each measured unit. */
  val unitMs = mutable.ArrayBuffer.empty[Double]

  /** Fill `e2e` from the untraced units and `e2eTraced` from the traced ones. */
  def endToEnd[U](units: Seq[U], traced: U => Boolean)(metrics: Seq[U] => Seq[(String, Double)]): Unit = {
    val (t, u) = units.partition(traced)
    if (u.nonEmpty) e2e ++= metrics(u)
    if (t.nonEmpty) e2eTraced ++= metrics(t)
  }
}

trait Workload {
  /** The workload's set-up; run several times and timed as `setup_s`. */
  def setup(ctx: Ctx): Unit
  /** Untimed units on the real inputs, so the timed ones start with a warm
    * JIT and code generator.
    */
  def warmup(ctx: Ctx): Unit
  /** Timed units for about `seconds`; each starts with [[Ctx.beginUnit]]. */
  def measure(ctx: Ctx, seconds: Double): Phase
  /** Outputs written for the oracle comparison done after the run:
    * output name -> (directory, operations that produced it).
    */
  def outputs: Map[String, (Path, Long)] = Map.empty
  /** The headline end-to-end metric and whether higher is better. */
  def headline: (String, Boolean)
}

object Main {
  val E2E: Seq[(String, String)] = Seq(
    "setup_s" -> "s", "rows_per_s" -> "rows/s", "latency_p50_s" -> "s", "latency_p90_s" -> "s")

  /** Every per-layer metric, with its unit. A traced run emits all of
    * them; layers the workload does not load read zero.
    */
  val Layers: Seq[(String, String)] = Seq(
    "sources.catalog_ms" -> "ms", "sources.import_batches" -> "count",
    "sources.batch_p50_ms" -> "ms", "sources.batch_max_ms" -> "ms",
    "sources.bookkeeping_ms" -> "ms", "sources.scan_amplification" -> "ratio",
    "expressions.clean_ms" -> "ms",
    "sinks.write_ms" -> "ms", "sinks.rows_per_statement" -> "rows", "sinks.dedup_dropped_rows" -> "rows",
    "sinks.standin_ms" -> "ms", "sinks.max_connections" -> "count",
    "streaming.runs" -> "count", "streaming.windows_per_run" -> "count", "streaming.backlog_max" -> "count",
    "streaming.start_ms" -> "ms", "streaming.latest_offset_ms" -> "ms", "streaming.add_batch_ms" -> "ms",
    "streaming.commit_ms" -> "ms", "streaming.state_write_amplification" -> "ratio",
    "streaming.state_bytes_per_row" -> "B/row", "streaming.freshness_samples" -> "count",
    "operators.merge_shuffle_bytes" -> "B/window", "streaming.lander_late_ms_max" -> "ms",
    "functions.text_gate_ms" -> "ms", "operators.exact_dedup_ms" -> "ms",
    "operators.minhash_pairs_ms" -> "ms", "operators.minhash_pairs" -> "count",
    "operators.band_pairs_ms" -> "ms", "operators.band_pairs" -> "count",
    "operators.cc_ms" -> "ms", "operators.cc_jobs" -> "count",
    "operators.semantic_ms" -> "ms", "operators.sample_ms" -> "ms",
    "operators.band_tasks" -> "count", "operators.band_skew" -> "ratio",
    "SparkEntry.queries_run" -> "count") ++
    Views.Mix.map(q => s"SparkEntry.${q}_p50_ms" -> "ms") ++ Seq(
    "spark.task_ms" -> "ms/op", "spark.gc_ms" -> "ms/op", "spark.jobs" -> "jobs/op",
    "spark.input_records" -> "records/op", "spark.shuffle_write_bytes" -> "B/op",
    "spark.spill_bytes" -> "B/op", "trace.overhead_pct" -> "%")

  def deleteTree(p: Path): Unit =
    if (Files.exists(p)) {
      val s = Files.walk(p)
      try s.sorted(java.util.Comparator.reverseOrder[Path]()).forEach(f => Files.delete(f))
      finally s.close()
    }

  def dirBytes(p: Path): Long =
    if (!Files.exists(p)) 0L
    else {
      val s = Files.walk(p)
      try s.filter(f => Files.isRegularFile(f) && !f.getFileName.toString.startsWith("."))
        .mapToLong(f => Files.size(f)).sum()
      finally s.close()
    }

  /** Order-independent digest of a result: sorted row strings, hashed. */
  def resultDigest(rows: Array[Row]): String = {
    val md = java.security.MessageDigest.getInstance("SHA-256")
    rows.map(_.toString).sorted.foreach(r => md.update((r + "\n").getBytes("UTF-8")))
    md.digest().take(12).map(b => f"$b%02x").mkString
  }

  /** Write a collected result for the oracle comparison. */
  def saveRows(spark: SparkSession, df: DataFrame, rows: Array[Row], dir: Path): Unit = {
    import scala.jdk.CollectionConverters._
    spark.createDataFrame(rows.toSeq.asJava, df.schema).coalesce(1)
      .write.mode("overwrite").parquet(dir.toString)
  }

  /** Run `op` at least `min` times, then again while the next run, taking
    * as long as the last one, still ends within `seconds` of the start.
    */
  def repeat[T](seconds: Double, min: Int)(op: => T): Seq[T] = {
    val out = mutable.ArrayBuffer.empty[T]
    val end = System.nanoTime() + (seconds * 1e9).toLong
    var last = 0L
    while (out.size < min || System.nanoTime() + last <= end) {
      val t0 = System.nanoTime()
      out += op
      last = System.nanoTime() - t0
    }
    out.toSeq
  }

  /** Rows of a parquet file, from its footer. */
  def parquetRows(spark: SparkSession, path: String): Long =
    graft.sources.RowGroupResume.rowGroups(spark.sparkContext.hadoopConfiguration, path).map(_.rows).sum

  private def arg(args: Array[String], key: String): Option[String] = {
    val i = args.indexOf(key)
    if (i >= 0 && i + 1 < args.length) Some(args(i + 1)) else None
  }

  def main(args: Array[String]): Unit = {
    val jvmStartMs = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime
    val workloadName = arg(args, "--workload").getOrElse(sys.error("--workload required"))
    val seed = arg(args, "--seed").map(_.toLong).getOrElse(1L)
    val seconds = arg(args, "--seconds").map(_.toDouble).getOrElse(10.0)
    val trace = arg(args, "--trace").contains("1")
    val inputs = Paths.get(arg(args, "--inputs").getOrElse(sys.error("--inputs required"))).toAbsolutePath
    val work = Paths.get(arg(args, "--work").getOrElse(sys.error("--work required"))).toAbsolutePath
    val cores = arg(args, "--cores").map(_.toInt).getOrElse(Runtime.getRuntime.availableProcessors)

    val wl: Workload = workloadName match {
      case "bootstrap" => new Bootstrap
      case "tail" => new Tail
      case "curate" => new Curate
      case "views" => new Views
      case other => sys.error(s"unknown workload $other")
    }

    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName(s"graftbench-$workloadName")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.autoBroadcastJoinThreshold", "64m")
      .config("spark.sql.codegen.cache.maxEntries", "5000")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .config("spark.sql.streaming.checkpointLocation", work.resolve("checkpoints").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    graft.SparkEntry.prep(spark)
    val sessionS = (System.currentTimeMillis() - jvmStartMs) / 1000.0

    val runId = s"$workloadName-$seed-${ProcessHandle.current().pid()}"
    val tracer = new Tracer(spark, runId)
    val ctx = Ctx(spark, tracer, inputs, work, trace)

    val setups = (1 to 3).map { _ =>
      val t0 = System.nanoTime()
      wl.setup(ctx)
      (System.nanoTime() - t0) / 1e9
    }
    val warmStart = System.nanoTime()
    wl.warmup(ctx)
    if (trace) tracer.attach()
    val measureStart = System.nanoTime()

    val metrics = mutable.LinkedHashMap.empty[String, (Double, String)]
    val p = wl.measure(ctx, seconds)
    tracer.disable()
    if (!trace) {
      metrics("setup_s") = (sessionS + Stats.median(setups), "s")
      E2E.tail.foreach { case (n, u) => metrics(n) = (p.e2e(n), u) }
    } else {
      val byGroup = tracer.counters()
      val ops = tracer.all.filter(_.layer == "op")
      val perOp = new GroupCounters
      ops.foreach(s => perOp.add(tracer.inclusive(s, byGroup)))
      val n = math.max(1, ops.size).toDouble
      Layers.foreach { case (name, unit) => metrics(name) = (p.layers.getOrElse(name, 0.0), unit) }
      metrics("spark.task_ms") = (perOp.taskMs / n, "ms/op")
      metrics("spark.gc_ms") = (perOp.gcMs / n, "ms/op")
      metrics("spark.jobs") = (perOp.jobs / n, "jobs/op")
      metrics("spark.input_records") = (perOp.inputRecords / n, "records/op")
      metrics("spark.shuffle_write_bytes") = (perOp.shuffleWriteBytes / n, "B/op")
      metrics("spark.spill_bytes") = (perOp.spillBytes / n, "B/op")
      // traced units against the untraced units interleaved with them
      val (head, higherBetter) = wl.headline
      val (u, t) = (p.e2e(head), p.e2eTraced(head))
      val worse = if (higherBetter) (u - t) / u else (t - u) / u
      metrics("trace.overhead_pct") = (100.0 * worse, "%")
      val diffs = E2E.tail.map { case (m, _) => m -> Json.num(p.e2eTraced(m) - p.e2e(m)) }
      Files.write(work.resolve("trace_overhead.json"), Json.obj(diffs).getBytes("UTF-8"))
      tracer.write(work.resolve("spans.jsonl"), byGroup)
    }
    val attempted = p.attempted
    val failed = p.failed
    val unitMs = p.unitMs

    val outs = wl.outputs.map { case (k, (dir, n)) =>
      k -> Json.obj(Seq("dir" -> Json.str(dir.toString), "ops" -> n.toString))
    }
    val result = Json.obj(Seq(
      "attempted" -> attempted.toString,
      "failed" -> failed.toString,
      "metrics" -> Json.obj(metrics.toSeq.map { case (k, (v, u)) =>
        k -> Json.obj(Seq("value" -> Json.num(v), "unit" -> Json.str(u)))
      }),
      "outputs" -> Json.obj(outs.toSeq),
      "unit_ms" -> unitMs.map(Json.num).mkString("[", ",", "]"),
      "phases_s" -> Json.obj(Seq(
        "session" -> Json.num(sessionS), "setup" -> Json.num(setups.sum),
        "warmup" -> Json.num((measureStart - warmStart) / 1e9),
        "measure" -> Json.num((System.nanoTime() - measureStart) / 1e9)))))
    Files.write(work.resolve("result.json"), result.getBytes("UTF-8"))
    spark.stop()
  }
}

/** Writes graft's oracle SQL texts and the benchmark's output names as one
  * JSON object (build-time step; the input generator reads it).
  */
object DumpOracles {
  def main(args: Array[String]): Unit = {
    val m = graft.SparkEntry.oracleSql
    def list(xs: Seq[String]) = xs.map(Json.str).mkString("[", ",", "]")
    Files.write(Paths.get(args.head), Json.obj(Seq(
      "oracles" -> Json.obj(m.toSeq.sortBy(_._1).map { case (k, v) => k -> Json.str(v) }),
      "views_mix" -> list(Views.Mix),
      "curate_stages" -> list(Curate.Stages))).getBytes("UTF-8"))
  }
}

/** JSON reading for the generator's expectation files. */
object SimpleJson {
  def parse(s: String): Any = org.json4s.jackson.JsonMethods.parse(s).values

  def long(v: Any): Long = v match {
    case b: BigInt => b.toLong
    case d: Double => d.toLong
    case l: Long => l
    case i: Int => i.toLong
    case s: String => s.toLong
    case other => sys.error(s"not a number: $other")
  }
}

/** Build-time training run for the JVM's class-data archive: starts a
  * session and touches the engine paths the workloads load (parquet scan
  * and write, shuffle, joins, windows, JSON, the streaming file source),
  * so later runs map those classes instead of loading them.
  */
object CdsTrain {
  def main(args: Array[String]): Unit = {
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.expressions.Window
    val dir = Paths.get(args.head).toAbsolutePath
    val spark = SparkSession.builder().master("local[2]")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", dir.resolve("local").toString)
      .config("spark.sql.warehouse.dir", dir.resolve("wh").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    graft.SparkEntry.prep(spark)
    val in = dir.resolve("in").toString
    spark.range(20000).selectExpr("id", "id % 97 as k", "cast(id as string) as s",
        """concat('{"a": ', id, '}') as j""")
      .write.mode("overwrite").parquet(in)
    val df = spark.read.parquet(in)
    val w = Window.partitionBy("k").orderBy(col("id").desc)
    df.join(df.groupBy("k").agg(max("id").as("m")), "k")
      .withColumn("r", row_number().over(w))
      .withColumn("p", from_json(col("j"), org.apache.spark.sql.types.StructType.fromDDL("a bigint")))
      .where(col("r") <= 3).collect()
    val q = spark.readStream.schema(df.schema).parquet(in)
      .writeStream.option("checkpointLocation", dir.resolve("ckpt").toString)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .foreachBatch((b: DataFrame, _: Long) => { b.groupBy("k").count().collect(); () })
      .start()
    q.awaitTermination()
    spark.stop()
  }
}
