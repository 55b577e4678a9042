package graftbench

import java.nio.file.{Files, Path, StandardCopyOption}

import org.apache.spark.sql.DataFrame

import graft.sources.ExportCatalog
import graft.streaming.IncrementalStream

import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

/** Steady-state freshness. Set-up seeds a latest-wins state table from a
  * full export plus incrementals (ExportCatalog.plan/load — the big merge).
  * Then one lander thread renames pre-written windows into the landing
  * directory open-loop, one per period, and a single poll loop calls
  * [[IncrementalStream.run]] (AvailableNow) until every landed window has
  * merged. One operation is one window; its latency is its freshness: due
  * time to the end of the stream run that made its rows visible.
  */
final class Tail extends Workload {
  private val Keys = Seq("id")
  private val Ord = Seq("updated_at")

  private var windows: IndexedSeq[String] = _
  private var windowRows: IndexedSeq[Long] = _
  private var digests: IndexedSeq[String] = _
  private var live: IndexedSeq[Long] = _
  private var stateDir: Path = _
  private var landing: Path = _
  private var checkpoint: Path = _
  private var sample: DataFrame = _
  private var setups = 0
  private var merged = Set.empty[String]

  def setup(ctx: Ctx): Unit = {
    val m = SimpleJson.parse(new String(Files.readAllBytes(ctx.inputs.resolve("expected.json")), "UTF-8"))
      .asInstanceOf[Map[String, Any]]
    windows = m("windows").asInstanceOf[Seq[Any]].map(_.toString).toIndexedSeq
    windowRows = m("window_rows").asInstanceOf[Seq[Any]].map(SimpleJson.long).toIndexedSeq
    digests = m("digests").asInstanceOf[Seq[Any]].map(_.toString).toIndexedSeq
    live = m("live_rows").asInstanceOf[Seq[Any]].map(SimpleJson.long).toIndexedSeq
    val seedDir = ctx.inputs.resolve("seed").toString
    val plan = ExportCatalog.plan(ExportCatalog.list(ctx.spark, seedDir), "casts")
      .getOrElse(sys.error("no seed full export"))
    sample = ctx.spark.read.parquet(plan.full.path)
    stateDir = ctx.fresh(s"state-$setups")
    setups += 1
    ctx.tracer.span("operators", "seed_merge") {
      ExportCatalog.load(ctx.spark, plan, Keys, Ord).write.parquet(stateDir.toString)
    }
  }

  /** One stream run over a throwaway copy of the first windows, against
    * one of the throwaway set-up states.
    */
  def warmup(ctx: Ctx): Unit = {
    val warmState = ctx.work.resolve("state-0")
    val warmIn = ctx.fresh("warm-in")
    Files.createDirectories(warmIn)
    windows.take(3).foreach { w =>
      val src = ctx.inputs.resolve("windows").resolve(w)
      Files.copy(src, warmIn.resolve(w))
    }
    val q = IncrementalStream.run(ctx.spark, warmIn.toString, sample, Keys, Ord,
      warmState.toString, ctx.fresh("warm-ckpt").toString)
    q.awaitTermination()
    landing = ctx.fresh("landing")
    Files.createDirectories(landing)
    checkpoint = ctx.fresh("ckpt")
  }

  /** File names the stream's file source has committed, from its log. */
  private def processed(): Set[String] = {
    val dir = checkpoint.resolve("sources").resolve("0")
    if (!Files.isDirectory(dir)) Set.empty
    else Files.list(dir).iterator().asScala.filterNot(_.getFileName.toString.startsWith("."))
      .flatMap(f => Files.readAllLines(f).asScala)
      .flatMap { line =>
        val i = line.indexOf("\"path\":\"")
        if (i < 0) None
        else {
          val s = line.substring(i + 8, line.indexOf('"', i + 8))
          Some(java.net.URLDecoder.decode(s.substring(s.lastIndexOf('/') + 1), "UTF-8"))
        }
      }.toSet
  }

  /** Open-loop lander: window `i` is due at `startNs + i * periodNs`. */
  private final class Lander(ctx: Ctx, names: IndexedSeq[String], periodNs: Long) extends Thread("lander") {
    setDaemon(true)
    val startNs = System.nanoTime() + periodNs
    @volatile var landed = 0
    @volatile var lateMaxNs = 0L
    def due(i: Int): Long = startNs + i * periodNs
    override def run(): Unit = {
      val staging = ctx.work.resolve("staging")
      var i = 0
      while (i < names.size) {
        val wait = due(i) - System.nanoTime()
        if (wait > 0) Thread.sleep(wait / 1000000, (wait % 1000000).toInt)
        Files.move(staging.resolve(names(i)), landing.resolve(names(i)), StandardCopyOption.ATOMIC_MOVE)
        val now = System.nanoTime()
        lateMaxNs = math.max(lateMaxNs, now - due(i))
        i += 1
        landed = i
        synchronized(notifyAll())
      }
    }
    def awaitMore(than: Int): Unit = synchronized {
      while (landed <= than && landed < names.size) wait(50)
    }
  }

  /** One stream run and what it merged. */
  private final class StreamRun(val traced: Boolean) {
    val fresh = ArrayBuffer.empty[Double]
    var ns = 0L
    var rows = 0L // state rows read plus window rows merged
  }

  def measure(ctx: Ctx, seconds: Double): Phase = {
    val p = new Phase
    val names = windows
    val staging = ctx.work.resolve("staging")
    Files.createDirectories(staging)
    names.foreach(w => Files.copy(ctx.inputs.resolve("windows").resolve(w), staging.resolve(w),
      StandardCopyOption.REPLACE_EXISTING))
    val index = names.zipWithIndex.toMap
    val periodNs = (seconds * 1e9 / names.size).toLong
    val lander = new Lander(ctx, names, periodNs)

    val runs = ArrayBuffer.empty[StreamRun]
    var backlogMax = 0
    val startMs = ArrayBuffer.empty[Double]
    val latestOffsetMs = ArrayBuffer.empty[Double]
    val addBatchMs = ArrayBuffer.empty[Double]
    val commitMs = ArrayBuffer.empty[Double]
    var stateBytesWritten = 0L
    var windowBytes = 0L // landed bytes merged by traced runs
    var tracedWindows = 0
    var failedRuns = 0
    val mergedHere = mutable.Set.empty[String]

    lander.start()
    while (mergedHere.size < names.size) {
      lander.awaitMore(mergedHere.size)
      val run = new StreamRun(ctx.beginUnit())
      if (run.traced) backlogMax = math.max(backlogMax, lander.landed - mergedHere.size)
      val stateRows = live(mergedHere.size)
      val callMs = System.currentTimeMillis()
      val t0 = System.nanoTime()
      val q = IncrementalStream.run(ctx.spark, landing.toString, sample, Keys, Ord,
        stateDir.toString, checkpoint.toString)
      val ok = try { q.awaitTermination(); q.exception.isEmpty }
        catch { case e: Exception => System.err.println(s"[tail] stream run failed: $e"); false }
      val t1 = System.nanoTime()
      runs += run
      run.ns = t1 - t0
      p.unitMs += (t1 - t0) / 1e6
      if (!ok) failedRuns += 1
      ctx.tracer.record("op", "stream_run", t0, t1, q.runId.toString)
      val now = processed()
      val newly = (now -- merged).filter(index.contains)
      merged = now
      newly.foreach { w =>
        val i = index(w)
        run.fresh += (t1 - lander.due(i)) / 1e9
        run.rows += windowRows(i)
        if (run.traced) windowBytes += Files.size(landing.resolve(w))
      }
      mergedHere ++= newly
      if (newly.nonEmpty) run.rows += stateRows
      if (run.traced) {
        tracedWindows += newly.size
        stateBytesWritten += Main.dirBytes(stateDir)
        q.recentProgress.headOption.foreach { pr =>
          val d = pr.durationMs.asScala
          startMs += (java.time.Instant.parse(pr.timestamp).toEpochMilli - callMs).toDouble
          latestOffsetMs += d.get("latestOffset").map(_.toDouble).getOrElse(0.0)
          addBatchMs += d.get("addBatch").map(_.toDouble).getOrElse(0.0)
          commitMs += d.get("commitOffsets").map(_.toDouble).getOrElse(0.0) +
            d.get("commitBatch").map(_.toDouble).getOrElse(0.0)
        }
      }
      ctx.tracer.disable()
      if (lander.landed == names.size && newly.isEmpty && runs.size > names.size * 2)
        sys.error("[tail] stream stopped making progress")
    }
    lander.join()

    // correctness: the state must equal the generator's latest-wins state
    // after every window
    val rows = ctx.spark.read.parquet(stateDir.toString)
      .select("id", "updated_at", "fid", "kind", "value_c", "props").collect()
    var sum = 0L
    rows.foreach(r => sum += Digest.rowHash(r.toSeq.map(v => if (v == null) null else v.toString)))
    val digest = java.lang.Long.toUnsignedString(sum)
    val to = names.size
    val ok = digest == digests(to) && rows.length == live(to) && failedRuns == 0
    if (!ok) System.err.println(s"[tail] state mismatch after $to windows: $digest/${rows.length} " +
      s"vs ${digests(to)}/${live(to)}, failed runs $failedRuns")
    p.attempted = names.size
    p.failed = if (ok) 0 else names.size

    p.endToEnd(runs.toSeq, (r: StreamRun) => r.traced) { rs =>
      val fresh = rs.flatMap(_.fresh)
      Seq("rows_per_s" -> rs.map(_.rows).sum / (rs.map(_.ns).sum / 1e9),
        "latency_p50_s" -> Stats.quantile(fresh, 0.5),
        "latency_p90_s" -> Stats.quantile(fresh, 0.9))
    }
    val traced = runs.filter(_.traced)
    if (traced.nonEmpty) {
      val byGroup = ctx.tracer.counters()
      val runGroups = ctx.tracer.all.filter(s => s.layer == "op" && s.name == "stream_run").map(_.group)
      val shuffleBytes = runGroups.flatMap(byGroup.get).map(_.shuffleWriteBytes).sum
      val l = p.layers
      l("streaming.runs") = runs.size
      l("streaming.windows_per_run") = tracedWindows.toDouble / traced.size
      l("streaming.backlog_max") = backlogMax
      l("streaming.start_ms") = Stats.median(startMs.toSeq)
      l("streaming.latest_offset_ms") = Stats.median(latestOffsetMs.toSeq)
      l("streaming.add_batch_ms") = Stats.median(addBatchMs.toSeq)
      l("streaming.commit_ms") = Stats.median(commitMs.toSeq)
      l("streaming.state_write_amplification") = stateBytesWritten.toDouble / math.max(1L, windowBytes)
      l("streaming.state_bytes_per_row") = Main.dirBytes(stateDir).toDouble / math.max(1, rows.length)
      l("streaming.freshness_samples") = traced.map(_.fresh.size).sum
      l("operators.merge_shuffle_bytes") = shuffleBytes.toDouble / math.max(1, tracedWindows)
      l("streaming.lander_late_ms_max") = lander.lateMaxNs / 1e6
    }
    p
  }

  def headline: (String, Boolean) = ("latency_p50_s", false)
}
