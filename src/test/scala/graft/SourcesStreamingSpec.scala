package graft

import java.nio.file.Files
import java.sql.Timestamp

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import java.sql.SQLException
import org.apache.spark.sql.functions.{col, concat, lit}
import graft.sources.{ExportCatalog, ExportFile, RowGroupResume}
import graft.streaming.{ClosedSession, SessionEvent, StatefulSessions}

/** Export-directory discovery (the reference's S3 listing contract) and
  * custom streaming state (flatMapGroupsWithState sessionization).
  */
class SourcesStreamingSpec extends SparkSpec {
  import spark.implicits._

  private def touchEmpty(path: String): Unit = {
    val f = new java.io.File(path); f.getParentFile.mkdirs(); f.createNewFile(); ()
  }

  test("export catalog: parse, latest full, contiguous chain, .empty advances cursor") {
    val dir = Files.createTempDirectory("graft-exports").toFile.getAbsolutePath

    def slice(rows: Seq[(Long, Long, String)], name: String): Unit =
      rows.toDF("k", "ts", "v").coalesce(1).write
        .mode("overwrite").parquet(s"$dir/staging_$name")

    // parquet "files" in the export naming scheme are directories here (Spark
    // writes part files); ExportCatalog only needs the NAME to match, so
    // stage each slice then move it into place as a single-file object.
    def publish(name: String, rows: Seq[(Long, Long, String)]): Unit = {
      slice(rows, name)
      val part = new java.io.File(s"$dir/staging_$name").listFiles()
        .find(_.getName.endsWith(".parquet")).get
      part.renameTo(new java.io.File(s"$dir/$name"))
      ()
    }

    // an older full, a newer full, contiguous incrementals, one empty window,
    // a duplicate re-upload, and an unrelated table that must be ignored
    publish("public-things-0-100.parquet", Seq((1L, 90L, "old-full")))
    publish("public-things-0-200.parquet", Seq((1L, 150L, "full"), (2L, 160L, "b")))
    publish("public-things-200-300.parquet", Seq((1L, 250L, "inc1")))
    touchEmpty(s"$dir/public-things-300-400.empty")
    publish("public-things-400-500.parquet", Seq((3L, 450L, "c")))
    publish("public-things-400-500.parquet.bak", Seq((9L, 1L, "junk"))) // unparseable → ignored
    publish("public-others-0-500.parquet", Seq((7L, 7L, "other-table")))

    val files = ExportCatalog.list(spark, dir)
    assert(files.count(_.tableName == "things") == 5)
    assert(files.find(_.isEmpty).map(f => (f.startTs, f.endTs)).contains((300L, 400L)))

    val plan = ExportCatalog.plan(files, "things").get
    assert(plan.full.endTs == 200L, "newest full must win")
    assert(plan.incrementals.map(f => (f.startTs, f.endTs)) ==
      Seq((200L, 300L), (300L, 400L), (400L, 500L)))
    assert(plan.asOf == 500L)
    // .empty contributes no path but advanced the chain to 400-500
    assert(plan.parquetPaths.size == 3)

    val state = ExportCatalog.load(spark, plan, Seq("k"), Seq("ts"))
      .orderBy("k").as[(Long, Long, String)].collect().toSeq
    assert(state == Seq((1L, 250L, "inc1"), (2L, 160L, "b"), (3L, 450L, "c")))

    // asOf truncation: only windows fully inside [0, 300]
    val asOf = ExportCatalog.plan(files, "things", asOf = 300L).get
    assert(asOf.full.endTs == 200L && asOf.incrementals.map(_.endTs) == Seq(300L))

    // a gap (500-600 missing) halts the chain at the last contiguous window
    publish("public-things-600-700.parquet", Seq((4L, 650L, "after-gap")))
    val gapped = ExportCatalog.plan(ExportCatalog.list(spark, dir), "things").get
    assert(gapped.asOf == 500L, "gap must stop the chain (reference: forces new full)")

    // retention guard: fulls ending before the cutoff are "too old" and
    // ignored (reference starts over with a fresh full)
    assert(ExportCatalog.plan(files, "things", fullNotOlderThan = 150L).get.full.endTs == 200L)
    assert(ExportCatalog.plan(files, "things", fullNotOlderThan = 201L).isEmpty,
      "no usable full → caller must fetch a fresh full export")

    // backfill: overlapping incrementals only (no full, gaps tolerated,
    // .empty dropped), row-level ts range applied on load
    val all = ExportCatalog.list(spark, dir) // includes the 600-700 after-gap file
    val bf = ExportCatalog.backfillPlan(all, "things", startTs = 250L, endTs = 650L)
    assert(bf.map(f => (f.startTs, f.endTs)) == Seq((200L, 300L), (400L, 500L), (600L, 700L)),
      "overlap selection must skip the full, drop .empty, and tolerate the 500-600 gap")
    val rows = ExportCatalog.loadBackfill(spark, bf, "ts", 250L, 650L)
      .orderBy("k").as[(Long, Long, String)].collect().toSeq
    // inc1@250 inside; c@450 inside; after-gap@650 inclusive-end inside
    assert(rows == Seq((1L, 250L, "inc1"), (3L, 450L, "c"), (4L, 650L, "after-gap")))
    // window boundaries are inclusive, rows outside fall away
    assert(ExportCatalog.loadBackfill(spark, bf, "ts", 251L, 649L).count() == 1)
  }

  test("end-to-end: export discovery → load → JDBC upsert → latest-wins state") {
    // the reference's whole pipeline in one pass: list S3-style exports,
    // plan full+incrementals, merge, upsert into Postgres-shaped sink
    val dir = Files.createTempDirectory("graft-e2e").toFile.getAbsolutePath
    def publish(name: String, rows: Seq[(Long, Long, String)]): Unit = {
      rows.toDF("k", "ts", "v").coalesce(1).write.mode("overwrite").parquet(s"$dir/st_$name")
      val part = new java.io.File(s"$dir/st_$name").listFiles()
        .find(_.getName.endsWith(".parquet")).get
      part.renameTo(new java.io.File(s"$dir/$name")); ()
    }
    publish("public-things-0-100.parquet", Seq((1L, 10L, "full1"), (2L, 20L, "full2")))
    publish("public-things-100-200.parquet", Seq((1L, 150L, "inc1"), (3L, 120L, "new3")))
    publish("public-things-200-300.parquet", Seq((2L, 15L, "stale2"), (3L, 250L, "newer3")))

    val plan = ExportCatalog.plan(ExportCatalog.list(spark, dir), "things").get
    val state = ExportCatalog.load(spark, plan, Seq("k"), Seq("ts"))

    val sink = new java.util.concurrent.ConcurrentHashMap[Long, (String, Long)]()
    GlobalSinkModel.table = sink
    graft.sinks.JdbcUpsertSink.write(
      state.select(col("k"), col("v"), col("ts")), "things", Seq("k"), "ts",
      batchSize = 2, connect = () => GlobalSinkModel.connection())

    import scala.jdk.CollectionConverters._
    val got = sink.asScala.map { case (k, (v, _)) => k -> v }.toMap
    // note stale2 (ts 15) arrived in a LATER window but must lose to full2
    // (ts 20) — window recency is not row recency
    assert(got == Map(1L -> "inc1", 2L -> "full2", 3L -> "newer3"))
  }

  test("stream-stream join within a bounded delay (watermarked both sides)") {
    import graft.streaming.StreamJoins
    implicit val sqlCtx = spark.sqlContext
    val casts = MemoryStream[(Long, Timestamp)]
    val reax = MemoryStream[(Long, Timestamp, String)]
    val joined = StreamJoins.joinWithin(
      casts.toDF().toDF("k", "ts").withWatermark("ts", "5 seconds"),
      reax.toDF().toDF("k", "ts", "rtype").withWatermark("ts", "5 seconds"),
      key = "k", tsCol = "ts", maxDelay = "60 seconds")

    val q = joined.writeStream.format("memory").queryName("graft_ssj")
      .outputMode("append").start()
    try {
      def t(sec: Long) = new Timestamp(sec * 1000L)
      casts.addData((1L, t(100)), (2L, t(110)))
      reax.addData((1L, t(130), "like"), (1L, t(200), "too-late"), (2L, t(90), "before-cast"))
      q.processAllAvailable()
      val got = spark.table("graft_ssj")
        .selectExpr("l_k", "r_rtype").collect().map(r => (r.getLong(0), r.getString(1))).toSet
      // in-window reaction joins; out-of-window (200 > 100+60) and
      // before-cast (90 < 110) do not
      assert(got == Set((1L, "like")), s"got $got")
    } finally q.stop()
  }

  test("watermarked stream dedup: one row per key in-window, state evicts after") {
    import graft.streaming.IncrementalStream
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[(Long, Timestamp, String)]
    val deduped = IncrementalStream.dedupWithinWatermark(
      in.toDF().toDF("k", "ts", "v"), "ts", Seq("k"), "10 seconds")

    val q = deduped.writeStream.format("memory").queryName("graft_dedup")
      .outputMode("append").start()
    try {
      def t(sec: Long) = new Timestamp(sec * 1000L)
      // duplicate key within the window: one survivor
      in.addData((1L, t(100), "first"), (1L, t(101), "dup"), (2L, t(100), "b"))
      q.processAllAvailable()
      assert(spark.table("graft_dedup").count() == 2)

      // same batch-window duplicate arriving in the NEXT batch, watermark
      // still behind: still deduped (cross-batch state)
      in.addData((1L, t(102), "dup2"))
      q.processAllAvailable()
      assert(spark.table("graft_dedup").count() == 2)

      // push the watermark far past the horizon, then re-send key 1: the
      // evicted state must NOT suppress the new epoch's row — this is the
      // bounded-state behavior plain dropDuplicates cannot give
      in.addData((9L, t(1000), "advance"))
      q.processAllAvailable()
      in.addData((1L, t(995), "new-epoch"))
      q.processAllAvailable()
      val vs = spark.table("graft_dedup").selectExpr("v").as[String].collect().toSet
      assert(vs.contains("new-epoch"), s"got $vs")
      assert(!vs.contains("dup") && !vs.contains("dup2"), s"got $vs")
    } finally q.stop()
  }

  test("stateful sessions: in-batch close, cross-batch state, event-time timeout") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[SessionEvent]
    val out = StatefulSessions.sessions(
      input.toDS().withWatermark("ts", "0 seconds"), gapUs = 60L * 1000000L)

    val q = out.writeStream.format("memory").queryName("graft_sessions")
      .outputMode("append").start()
    try {
      def ev(u: Long, sec: Long, v: Double) = SessionEvent(u, new Timestamp(sec * 1000L), v)
      def got(): Seq[ClosedSession] =
        spark.table("graft_sessions").as[ClosedSession].collect().toSeq
          .sortBy(s => (s.user_id, s.session_start_us))

      // batch 1: user 1 has two sessions IN one batch (gap 60s exceeded) —
      // first closes immediately, second stays open in the state store
      input.addData(ev(1, 100, 1.0), ev(1, 130, 2.0), ev(1, 400, 5.0))
      q.processAllAvailable()
      assert(got() == Seq(ClosedSession(1L, 100000000L, 130000000L, 2L, 3.0)))

      // batch 2: user 1 extends the open session (within gap of t=400);
      // user 2 starts fresh; watermark moves to 440
      input.addData(ev(1, 440, 7.0), ev(2, 430, 1.0))
      q.processAllAvailable()
      assert(got().size == 1, "open sessions must not emit early")

      // batch 3: far-future event pushes the watermark past both timeouts;
      // batch 4 (any further data) lets the timed-out state fire
      input.addData(ev(3, 10000, 1.0))
      q.processAllAvailable()
      input.addData(ev(3, 10001, 1.0))
      q.processAllAvailable()
      val closed = got()
      assert(closed.exists(s => s.user_id == 1L && s.session_start_us == 400000000L &&
        s.session_end_us == 440000000L && s.n_events == 2L && s.sum_value == 12.0),
        s"user 1's extended session must close via timeout: $closed")
      assert(closed.exists(s => s.user_id == 2L && s.n_events == 1L), s"user 2: $closed")
    } finally q.stop()
  }

  test("direct import: filename-routed single-file import with filter and resume") {
    import graft.sources.DirectImport
    val dir = Files.createTempDirectory("graft-direct").toFile.getAbsolutePath
    def publish(name: String, rows: Seq[(Long, Long, String)]): String = {
      rows.toDF("k", "ts", "v").coalesce(1).write.mode("overwrite").parquet(s"$dir/st_$name")
      val part = new java.io.File(s"$dir/st_$name").listFiles()
        .find(_.getName.endsWith(".parquet")).get
      val target = new java.io.File(s"$dir/$name")
      part.renameTo(target)
      target.getAbsolutePath
    }
    val got = scala.collection.mutable.Map[String, Seq[(Long, Long, String)]]()
    def sink(table: String, df: org.apache.spark.sql.DataFrame): Unit =
      got(table) = got.getOrElse(table, Seq.empty) ++
        df.select("k", "ts", "v").as[(Long, Long, String)].collect().toSeq

    // full: start==0 routes to table "things", everything delivered
    val full = publish("public-things-0-100.parquet", Seq((1L, 10L, "a"), (2L, 20L, "b")))
    val r1 = DirectImport.run(spark, full, s"$dir/track", sink)
    assert(r1 == DirectImport.Result("things", "full", 1, done = true))
    assert(got("things").toSet == Set((1L, 10L, "a"), (2L, 20L, "b")))

    // re-run is resume-aware: nothing re-delivered, still done
    val r2 = DirectImport.run(spark, full, s"$dir/track", sink)
    assert(r2 == DirectImport.Result("things", "full", 0, done = true))
    assert(got("things").size == 2)

    // incremental with a row filter applied before the sink
    val inc = publish("public-things-100-200.parquet", Seq((3L, 150L, "keep"), (4L, 160L, "drop")))
    val r3 = DirectImport.run(spark, inc, s"$dir/track", sink,
      rowFilter = Some(col("v") === "keep"))
    assert(r3 == DirectImport.Result("things", "incremental", 1, done = true))
    assert(got("things").count(_._3 == "keep") == 1 && !got("things").exists(_._3 == "drop"))

    // .empty marker: zero batches, window counted as imported
    touchEmpty(s"$dir/public-things-200-300.empty")
    val r4 = DirectImport.run(spark, s"$dir/public-things-200-300.empty", s"$dir/track", sink)
    assert(r4 == DirectImport.Result("things", "incremental", 0, done = true))

    // unparseable name is a caller error, not a silent no-op
    intercept[IllegalArgumentException] {
      DirectImport.run(spark, s"$dir/notanexport.parquet", s"$dir/track", sink)
    }
  }

  test("row-group resume: kill mid-full, resume, final state equals one-shot") {
    // a single parquet file with many small row groups (tiny block size)
    val root = Files.createTempDirectory("graft-rgresume").toFile.getAbsolutePath
    spark.range(10000)
      .select(col("id"), (col("id") * 7 % 1000).as("v"))
      .coalesce(1).write
      .option("parquet.block.size", "16384")
      .option("parquet.page.size", "4096")
      .parquet(s"$root/full")
    val file = new java.io.File(s"$root/full").listFiles()
      .find(f => f.getName.startsWith("part-") && f.getName.endsWith(".parquet"))
      .get.getAbsolutePath

    val conf = spark.sparkContext.hadoopConfiguration
    val groups = RowGroupResume.rowGroups(conf, file)
    assert(groups.size >= 4, s"need several row groups to test resume, got ${groups.size}")
    assert(groups.map(_.rows).sum == 10000L)
    assert(groups.head.firstRowIndex == 0L)

    def ids(df: org.apache.spark.sql.DataFrame): Set[Long] =
      df.select("id").as[Long].collect().toSet

    // one-shot baseline
    val oneShot = scala.collection.mutable.Set[Long]()
    val b0 = RowGroupResume.importFull(spark, file, s"$root/track_oneshot", 2,
      df => { oneShot ++= ids(df); () }).batches
    assert(b0 == (groups.size + 1) / 2)
    assert(oneShot.toSet == (0L until 10000L).toSet)

    // crash after 2 committed batches
    val beforeCrash = scala.collection.mutable.Set[Long]()
    var batches = 0
    intercept[IllegalStateException] {
      RowGroupResume.importFull(spark, file, s"$root/track", 2, df => {
        if (batches == 2) throw new IllegalStateException("killed mid-full")
        beforeCrash ++= ids(df); batches += 1
      })
    }
    val fs = new org.apache.hadoop.fs.Path(root).getFileSystem(conf)
    assert(RowGroupResume.lastImported(fs, s"$root/track", file) == 3) // 2 batches × 2 groups
    // stray files in the marker dir (editor temps, copy-tool leftovers)
    // must be ignored, not throw and wedge resume
    val mDir = new java.io.File(s"$root/track").listFiles().head
    for (stray <- Seq("rg-tmp", "rg-12abc", "rg-", "_SUCCESS"))
      new java.io.File(mDir, stray).createNewFile()
    assert(RowGroupResume.lastImported(fs, s"$root/track", file) == 3)
    // re-recording an already-recorded marker (crash-replay) is a no-op
    RowGroupResume.recordProgress(fs, s"$root/track", file, 3)
    assert(RowGroupResume.lastImported(fs, s"$root/track", file) == 3)
    // the reference's (last_row_group_imported, total_row_groups) tracking row
    assert(RowGroupResume.rowGroups(conf, file).size == groups.size)

    // resume: only the remaining batches are re-delivered
    val afterResume = scala.collection.mutable.Set[Long]()
    val r2 = RowGroupResume.importFull(spark, file, s"$root/track", 2,
      df => { afterResume ++= ids(df); () })
    assert(r2.batches == b0 - 2)
    assert(r2.lastImported == groups.size - 1 && r2.totalGroups == groups.size && r2.done)
    assert(beforeCrash.intersect(afterResume).isEmpty, "resume must not replay committed batches")
    assert(beforeCrash.toSet ++ afterResume.toSet == oneShot.toSet,
      "crash + resume must equal the one-shot import exactly")
    // fully imported → nothing left
    assert(RowGroupResume.importFull(spark, file, s"$root/track", 2,
      _ => fail("no batch expected")).batches == 0)

    // graceful shutdown: stop lands on a batch boundary, resume completes
    val stopped = scala.collection.mutable.Set[Long]()
    var delivered = 0
    val b3 = RowGroupResume.importFull(spark, file, s"$root/track_stop", 2,
      df => { stopped ++= ids(df); delivered += 1 },
      shouldStop = () => delivered >= 2).batches
    assert(b3 == 2, "stop must land after the second batch")
    val rest = scala.collection.mutable.Set[Long]()
    RowGroupResume.importFull(spark, file, s"$root/track_stop", 2,
      df => { rest ++= ids(df); () })
    assert(stopped.intersect(rest).isEmpty, "resume after stop must not replay")
    assert(stopped.toSet ++ rest.toSet == oneShot.toSet,
      "stop + resume must equal the one-shot import exactly")
  }

  test("end-to-end: chunked full import → flaky upsert sink → crash → resume") {
    // the round's pieces composed the way a real deployment runs them: a
    // full export imported in row-group batches, each batch upserted through
    // the retrying sink; one batch survives a transient deadlock, then the
    // job dies; the resumed job completes, and the final table equals a
    // clean one-shot import exactly.
    val root = Files.createTempDirectory("graft-e2e-rg").toFile.getAbsolutePath
    spark.range(10000)
      .select(col("id"), concat(lit("v"), col("id")).as("v"), (col("id") % 97).as("ts"))
      .coalesce(1).write
      .option("parquet.block.size", "16384").option("parquet.page.size", "4096")
      .parquet(s"$root/full")
    val file = new java.io.File(s"$root/full").listFiles()
      .find(f => f.getName.startsWith("part-") && f.getName.endsWith(".parquet"))
      .get.getAbsolutePath
    val conf = spark.sparkContext.hadoopConfiguration
    val nGroups = RowGroupResume.rowGroups(conf, file).size
    assert(nGroups >= 4)

    def upsert(df: org.apache.spark.sql.DataFrame): Unit =
      graft.sinks.JdbcUpsertSink.write(df.select(col("id"), col("v"), col("ts")),
        "t", Seq("id"), "ts", batchSize = 500,
        connect = () => GlobalFlakyModel.connection(), maxAttempts = 5, sleepMs = _ => ())

    // clean one-shot baseline
    GlobalFlakyModel.reset(failures = 0, () => new SQLException("unused"))
    RowGroupResume.importFull(spark, file, s"$root/track_base", 2, upsert)
    import scala.jdk.CollectionConverters._
    val oneShot = GlobalFlakyModel.table.asScala.toMap
    assert(oneShot.size == 10000)

    // flaky run: first upsert statement hits a deadlock (retried inside the
    // sink), then the driver-side loop is killed after 1 batch
    GlobalFlakyModel.reset(failures = 1, () => new SQLException("deadlock detected", "40P01"))
    val survived = GlobalFlakyModel.table // keep the same table across the "crash"
    var batches = 0
    intercept[IllegalStateException] {
      RowGroupResume.importFull(spark, file, s"$root/track", 2, df => {
        if (batches == 1) throw new IllegalStateException("killed")
        upsert(df); batches += 1
      })
    }
    assert(GlobalFlakyModel.executeAttempts.get >= 2, "the deadlock retry must have fired")

    // resume into the SAME table; no further failures
    GlobalFlakyModel.failuresRemaining.set(0)
    GlobalFlakyModel.table = survived
    RowGroupResume.importFull(spark, file, s"$root/track", 2, upsert)
    assert(GlobalFlakyModel.table.asScala.toMap == oneShot,
      "crash + resume through the retrying sink must equal the one-shot import")
  }

  /** One parquet part file of `df`, written in row groups far smaller than
    * Spark's split size; extra writer options select the page encodings.
    */
  private def groupedFile(df: org.apache.spark.sql.DataFrame, opts: (String, String)*): String = {
    val dir = Files.createTempDirectory("graft-rgfile").toFile.getAbsolutePath + "/f"
    df.coalesce(1).write
      .option("parquet.block.size", "16384").option("parquet.page.size", "4096")
      .options(opts.toMap).parquet(dir)
    new java.io.File(dir).listFiles()
      .find(f => f.getName.startsWith("part-") && f.getName.endsWith(".parquet"))
      .get.getAbsolutePath
  }

  /** Per job of one job group: its task count; and the parquet records
    * read by the tasks of those jobs.
    */
  private final class WorkCounter(group: String) extends org.apache.spark.scheduler.SparkListener {
    import org.apache.spark.scheduler.{SparkListenerJobStart, SparkListenerTaskEnd}
    val jobTasks = scala.collection.mutable.ArrayBuffer.empty[Int]
    private val stages = scala.collection.mutable.Set.empty[Int]
    var records = 0L
    override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
      if (Option(e.properties).exists(_.getProperty("spark.jobGroup.id") == group)) {
        jobTasks += e.stageInfos.map(_.numTasks).sum
        stages ++= e.stageIds
      }
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
      if (stages.contains(e.stageId) && e.taskMetrics != null)
        records += e.taskMetrics.inputMetrics.recordsRead
    }
  }

  test("row-group import reads each row once: one job per batch, one task per group") {
    // the work-counter check on the import path: a whole-file scan per
    // batch reads the file groups/gpb times over, and a per-batch schema
    // inference adds a job to every batch — either fails this
    val file = groupedFile(spark.range(20000)
      .select(col("id"), concat(lit("v"), col("id")).as("v")))
    val root = Files.createTempDirectory("graft-rgwork").toFile.getAbsolutePath
    val groups = RowGroupResume.rowGroups(spark.sparkContext.hadoopConfiguration, file)
    assert(groups.size >= 12, s"need many row groups, got ${groups.size}")
    val group = s"rg-work-${System.nanoTime()}"
    val counter = new WorkCounter(group)
    val sc = spark.sparkContext
    sc.addSparkListener(counter)
    var delivered = 0L
    try {
      sc.setJobGroup(group, "row-group work counter")
      RowGroupResume.importFull(spark, file, s"$root/track", 4,
        df => delivered += df.select("id").as[Long].collect().length)
    } finally {
      sc.clearJobGroup()
      org.apache.spark.sql.graft.ListenerDrain(sc)
      sc.removeSparkListener(counter)
    }
    assert(delivered == 20000L)
    assert(counter.records == 20000L, s"scan amplification ${counter.records / 20000.0}, want 1")
    assert(counter.jobTasks.toSeq == groups.grouped(4).map(_.size).toSeq,
      "each batch: exactly one job, one task per row group")
  }

  test("row-group batches hold exactly their groups' rows (dictionary, plain, uneven batches)") {
    val base = spark.range(12000).select(
      // low-cardinality string FIRST: every group's starting position is
      // its first column's dictionary page, not its first data page
      (col("id") % 5).cast("string").as("kind"), col("id"), (col("id") * 7 % 1000).as("v"))
    val dict = groupedFile(base)
    val plain = groupedFile(base, "parquet.enable.dictionary" -> "false")
    val conf = spark.sparkContext.hadoopConfiguration
    def firstColumns(file: String) = {
      import scala.jdk.CollectionConverters._
      val r = org.apache.parquet.hadoop.ParquetFileReader.open(
        org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(new org.apache.hadoop.fs.Path(file), conf))
      try r.getFooter.getBlocks.asScala.map(_.getColumns.get(0)).toSeq finally r.close()
    }
    val dictCols = firstColumns(dict)
    assert(dictCols.forall(c => c.hasDictionaryPage && c.getDictionaryPageOffset < c.getFirstDataPageOffset))
    assert(RowGroupResume.rowGroups(conf, dict).map(_.start) == dictCols.map(_.getDictionaryPageOffset))
    assert(!firstColumns(plain).exists(_.hasDictionaryPage))

    for (file <- Seq(dict, plain)) {
      val groups = RowGroupResume.rowGroups(conf, file)
      // the reference: each row's file-wide row index from a whole-file scan
      val byRowIndex = spark.read.parquet(file)
        .select(col("_metadata.row_index"), col("id")).as[(Long, Long)].collect().toMap
      val gpb = (3 to 7).find(groups.size % _ != 0).get
      assert(groups.size > gpb, s"need more groups than a batch, got ${groups.size}")
      val root = Files.createTempDirectory("graft-rgmember").toFile.getAbsolutePath
      val got = scala.collection.mutable.ArrayBuffer.empty[Seq[Long]]
      assert(RowGroupResume.importFull(spark, file, s"$root/track", gpb,
        df => got += df.select("id").as[Long].collect().toSeq).batches == (groups.size + gpb - 1) / gpb)
      groups.grouped(gpb).toSeq.zip(got).foreach { case (batch, ids) =>
        val from = batch.head.firstRowIndex
        val until = batch.last.firstRowIndex + batch.last.rows
        assert(ids.size.toLong == batch.map(_.rows).sum, s"$file groups ${batch.map(_.index)}")
        assert(ids.sorted == (from until until).map(byRowIndex),
          s"$file groups ${batch.map(_.index)}: rows outside the batch's groups")
      }
    }
  }

  /** A parquet file written by plain parquet-mr — no Spark schema in its
    * key-value metadata, as an export from a non-Spark writer — with the
    * given rows of (id, name, payload, ts micros).
    */
  private def foreignFile(path: String, rows: Seq[(Long, String, Array[Byte], Long)]): Unit = {
    import org.apache.parquet.example.data.simple.SimpleGroupFactory
    import org.apache.parquet.hadoop.example.ExampleParquetWriter
    import org.apache.parquet.io.api.Binary
    import org.apache.parquet.schema.MessageTypeParser
    val schema = MessageTypeParser.parseMessageType(
      """message export {
        |  required int64 id;
        |  optional binary name (STRING);
        |  optional binary payload;
        |  optional int64 ts (TIMESTAMP(MICROS,true));
        |}""".stripMargin)
    val writer = ExampleParquetWriter.builder(new org.apache.hadoop.fs.Path(path))
      .withType(schema).withConf(spark.sparkContext.hadoopConfiguration).build()
    val groups = new SimpleGroupFactory(schema)
    try rows.foreach { case (id, name, payload, ts) =>
      writer.write(groups.newGroup().append("id", id).append("name", name)
        .append("payload", Binary.fromConstantByteArray(payload)).append("ts", ts))
    } finally writer.close()
  }

  test("footer schema equals spark.read.parquet's; a file with no row groups is done at once") {
    val dir = Files.createTempDirectory("graft-rgschema").toFile.getAbsolutePath
    val foreign = s"$dir/public-things-0-100.parquet"
    foreignFile(foreign, (0L until 50L).map(i =>
      (i, s"n$i", Array[Byte](i.toByte, 1), 1700000000000000L + i)))
    val sparkWritten = groupedFile(spark.range(50).select(col("id"),
      concat(lit("n"), col("id")).as("name"), col("id").cast("string").cast("binary").as("payload"),
      col("id").cast("timestamp").as("ts")))
    for (file <- Seq(foreign, sparkWritten)) {
      val footer = RowGroupResume.footer(spark, file)
      val want = spark.read.parquet(file).schema
      assert(want.map(_.dataType) == Seq(
        org.apache.spark.sql.types.LongType, org.apache.spark.sql.types.StringType,
        org.apache.spark.sql.types.BinaryType, org.apache.spark.sql.types.TimestampType))
      assert(footer.schema == want, file)
    }
    // imported rows read back the same as Spark's own scan of the file
    val rows = scala.collection.mutable.ArrayBuffer.empty[org.apache.spark.sql.Row]
    RowGroupResume.importFull(spark, foreign, s"$dir/track_rows", 2, df => rows ++= df.collect())
    assert(rows.map(_.toSeq.map { case b: Array[Byte] => b.toSeq; case v => v }).toSet ==
      spark.read.parquet(foreign).collect().map(_.toSeq.map { case b: Array[Byte] => b.toSeq; case v => v }).toSet)

    // zero row groups: no batch, and the file is complete
    val empty = s"$dir/public-things-0-200.parquet"
    foreignFile(empty, Nil)
    assert(RowGroupResume.footer(spark, empty).groups.isEmpty)
    val r = graft.sources.DirectImport.run(spark, empty, s"$dir/track_empty",
      (_, _) => fail("no batch expected"))
    assert(r == graft.sources.DirectImport.Result("things", "full", 0, done = true))
  }
}
