package graft

import java.nio.file.Files
import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.functions._
import graft.operators.MergeOps
import graft.sources.{ExportCatalog, ParquetTables}

/** The contract of `ParquetTables.open`, the one table open of `src/main`:
  * the schema a schema-less `spark.read.parquet` infers, no Spark job, and
  * Spark's own exception where there is nothing to open.
  */
class ParquetTablesSpec extends SparkSpec {
  import spark.implicits._

  /** Spark jobs that `body` starts on this thread. Counted by job group, so
    * work elsewhere in the shared session is not counted; read after the
    * listener bus has delivered every queued event.
    */
  private def jobsDuring(body: => Unit): Int = {
    val group = s"parquet-tables-${System.nanoTime()}"
    val jobs = new AtomicInteger
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (Option(e.properties).exists(_.getProperty("spark.jobGroup.id") == group)) jobs.incrementAndGet()
    }
    val sc = spark.sparkContext
    sc.addSparkListener(listener)
    try {
      sc.setJobGroup(group, "table opens")
      body
    } finally {
      sc.clearJobGroup()
      org.apache.spark.sql.graft.ListenerDrain(sc)
      sc.removeSparkListener(listener)
    }
    jobs.get
  }

  private def tmp(prefix: String): String =
    Files.createTempDirectory(prefix).toFile.getAbsolutePath

  /** One parquet file at `path`, holding `df`'s rows (an export object). */
  private def publish(df: org.apache.spark.sql.DataFrame, path: String): Unit = {
    val staging = path + "_staging"
    df.coalesce(1).write.parquet(staging)
    new java.io.File(staging).listFiles().find(_.getName.endsWith(".parquet")).get
      .renameTo(new java.io.File(path))
    ()
  }

  test("every testdata table opens with the schema inference gives, events included") {
    Tables.names.foreach { t =>
      // Tables.load sets events' converter flag before its open; the plain
      // read below runs under the same flag
      val opened = Tables.load(spark, sfDir, t).schema
      assert(opened == spark.read.parquet(s"$sfDir/$t.parquet").schema, t)
      assert(opened == ParquetTables.open(spark, s"$sfDir/$t.parquet").schema, t)
    }
  }

  test("a Spark-written part-file directory opens with the inferred schema and all its rows") {
    val dir = tmp("graft-tables-parts") + "/state"
    spark.range(300).select(
      col("id"), (col("id") % 7).cast("string").as("s"), (col("id") / 3.0).as("d"),
      (col("id") * 1.25).cast("decimal(20,4)").as("dec"), timestamp_micros(col("id")).as("ts"),
      timestamp_micros(col("id")).cast("timestamp_ntz").as("ntz"), date_from_unix_date(col("id").cast("int")).as("day"),
      array(col("id"), col("id") + 1).as("arr"), struct(col("id").cast("int").as("a"), lit("b").as("b")).as("st"),
      map(lit("k"), col("id")).as("m"), col("id").cast("string").cast("binary").as("bin"))
      .repartition(3).write.parquet(dir)
    // the state shape: part files beside _SUCCESS and hidden checksum files
    assert(new java.io.File(dir).list().exists(_.startsWith(".")))
    assert(new java.io.File(dir, "_SUCCESS").exists())
    val opened = ParquetTables.open(spark, dir)
    assert(opened.schema == spark.read.parquet(dir).schema)
    assert(opened.select(sum(col("id"))).as[Long].head() == (0L until 300L).sum)
  }

  test("an export plan takes the full's schema, as inference does, when a later incremental adds a column") {
    val dir = tmp("graft-tables-exports")
    publish(Seq((1L, 10L, "full")).toDF("k", "ts", "v"), s"$dir/public-things-0-100.parquet")
    publish(Seq((1L, 150L, "inc", 7L)).toDF("k", "ts", "v", "extra"), s"$dir/public-things-100-200.parquet")
    val files = ExportCatalog.list(spark, dir)
    val plan = ExportCatalog.plan(files, "things").get
    val paths = plan.parquetPaths
    assert(paths.size == 2)
    val inferred = spark.read.parquet(paths: _*).schema
    assert(ParquetTables.open(spark, paths: _*).schema == inferred)
    assert(!inferred.fieldNames.contains("extra"))
    assert(ExportCatalog.load(spark, plan, Seq("k"), Seq("ts")).schema ==
      MergeOps.latestByKey(spark.read.parquet(paths: _*), Seq("k"), Seq("ts")).schema)
    // a backfill of the incremental alone reads the incremental's schema
    val bf = ExportCatalog.backfillPlan(files, "things", 100L, 200L)
    assert(ExportCatalog.loadBackfill(spark, bf, "ts", 100L, 200L).schema ==
      spark.read.parquet(bf.map(_.path): _*).where(col("ts") >= 100L).schema)
    assert(ExportCatalog.loadBackfill(spark, bf, "ts", 100L, 200L).schema.fieldNames.contains("extra"))
  }

  test("table opens and the views queries' builds start no Spark job") {
    val lineitem = s"$sfDir/lineitem.parquet"
    // the counter sees the job a schema-less read starts
    assert(jobsDuring(spark.read.parquet(lineitem)) >= 1)
    assert(jobsDuring(ParquetTables.open(spark, lineitem)) == 0)
    assert(jobsDuring(Tables.names.foreach(Tables.load(spark, sfDir, _))) == 0)
    val dir = tmp("graft-tables-jobs") + "/state"
    spark.range(10).repartition(2).write.parquet(dir)
    assert(jobsDuring(ParquetTables.open(spark, dir)) == 0)
    // the views workload's mix: building each plan opens its tables; only
    // running it may start jobs
    Seq("q08_profiles_view", "q12_pricing_summary", "q73_pricing_summary_wide", "q14_top_customers",
      "q26_price_percentiles", "q70_decile_bins", "q63_kmv_distinct").foreach { q =>
      assert(jobsDuring(SparkEntry.queries(q)(spark, sfDir)) == 0, q)
    }
  }

  test("a missing path and an empty directory raise the exception spark.read.parquet raises") {
    val root = tmp("graft-tables-errors")
    val empty = new java.io.File(root, "empty")
    assert(empty.mkdir())
    Seq(s"$root/missing.parquet", empty.getAbsolutePath).foreach { p =>
      val spark0 = intercept[Exception](spark.read.parquet(p))
      val opened = intercept[Exception](ParquetTables.open(spark, p))
      assert(opened.getClass == spark0.getClass, s"$p: ${opened.getMessage}")
    }
  }
}
