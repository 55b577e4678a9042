package graft

import org.apache.spark.sql.functions._
import graft.operators.Registry
import graft.sources.ExportFile

/** The env config surface (reference settings.py + env.example): a
  * dotenv-shaped text must land as the exact parameters the sync entry
  * points consume.
  */
class GraftSettingsSpec extends SparkSpec {

  private val envExample =
    """# =====================================================================
      |# Parquet Data Source Configuration
      |# =====================================================================
      |NPE_VERSION=v3
      |PARQUET_S3_SCHEMA=nindexer
      |TABLES=events,orders,lineitem
      |VIEWS=
      |
      |LOG_FORMAT=rich  # rich or json
      |LOG_LEVEL=DEBUG  # DEBUG, INFO, WARN, ERROR
      |CU_MODE=shadow
      |TARGET_NAME="prod-sync"
      |SKIP_FULL_IMPORT=true
      |POSTGRES_SCHEMA=
      |BACKFILL_START_TS=1000
      |BACKFILL_END_TS=2000
      |""".stripMargin

  test("dotenv parsing: comments, quotes, inline comments, blanks") {
    val s = GraftSettings.fromDotEnv(envExample)
    assert(s.tables == Seq("events", "orders", "lineitem"))
    assert(s.views.isEmpty)
    assert(s.npeVersion == "v3")
    assert(s.env("LOG_FORMAT") == "rich") // inline comment stripped
    assert(s.targetName == "prod-sync") // quotes stripped
    assert(s.skipFullImport)
    assert(s.sourceSchema == "nindexer")
  }

  test("incremental duration defaulting follows settings.initialize()") {
    assert(GraftSettings(Map("NPE_VERSION" -> "v2")).incrementalDuration == 300L)
    assert(GraftSettings(Map("NPE_VERSION" -> "v3")).incrementalDuration == 1L)
    assert(GraftSettings(Map("NPE_VERSION" -> "v3", "NPE_DURATION" -> "60")).incrementalDuration == 60L)
    intercept[IllegalArgumentException] {
      GraftSettings(Map("NPE_VERSION" -> "v9")).incrementalDuration
    }
  }

  test("blank POSTGRES_SCHEMA collapses to public; cu mode maps to its metric") {
    val s = GraftSettings.fromDotEnv(envExample)
    assert(s.targetSchema == "public")
    assert(s.cuMetric.contains("shadow.usage.cu"))
    assert(GraftSettings(Map("CU_MODE" -> "on")).cuMetric.contains("usage.cu"))
    assert(GraftSettings(Map.empty[String, String]).cuMetric.isEmpty)
  }

  test("env flags parse one way: GRAFT_CENTS_OUT / SKIP_FULL_IMPORT") {
    // the conf-override path is pinned in QueriesSpec; this pins the env
    // default (deployment's documented home) and the one flag parse both
    // switches share
    for (v <- Seq("1", "true", "TRUE", " True ")) {
      assert(GraftSettings(Map("GRAFT_CENTS_OUT" -> v)).centsOut, s"centsOut($v)")
      assert(GraftSettings(Map("SKIP_FULL_IMPORT" -> v)).skipFullImport, s"skipFullImport($v)")
    }
    for (v <- Seq("0", "false", "", "yes")) {
      assert(!GraftSettings(Map("GRAFT_CENTS_OUT" -> v)).centsOut, s"centsOut($v)")
      assert(!GraftSettings(Map("SKIP_FULL_IMPORT" -> v)).skipFullImport, s"skipFullImport($v)")
    }
    assert(!GraftSettings(Map.empty[String, String]).centsOut)
    assert(!GraftSettings(Map.empty[String, String]).skipFullImport)
    // one key is read alone: an env whose other settings would fail
    // GraftSettings construction (NPE_VERSION=v9 with no NPE_DURATION)
    // still yields the flag
    val env = Map("NPE_VERSION" -> "v9", "GRAFT_CENTS_OUT" -> "1")
    intercept[IllegalArgumentException](GraftSettings(env))
    assert(GraftSettings.flag(env, "GRAFT_CENTS_OUT"))
    assert(!GraftSettings.flag(env, "SKIP_FULL_IMPORT"))
  }

  test("empty TABLES means every registered table") {
    val s = GraftSettings(Map.empty[String, String])
    assert(s.tables == Registry.syncTables.keys.toSeq.sorted)
    assert(s.registrySyncTables == Registry.syncTables)
  }

  test("filters JSON compiles to per-table predicates that filter rows") {
    val s = GraftSettings.fromDotEnv(envExample)
    // the filters.example.json shape, schema-prefixed keys included
    val filters = s.rowFilters(
      """{"nindexer.events": {"data.event_type": {"$in": ["click", "view"]}},
        |"orders": {"data.o_orderkey": {"$gte": 100}}}""".stripMargin)
    assert(filters.keySet == Set("events", "orders"))
    val ev = Tables.events(spark, sfDir)
    val kept = ev.where(filters("events")).select(col("event_type")).distinct()
      .collect().map(_.getString(0)).toSet
    assert(kept == Set("click", "view"))
    // a document that is not an object keyed by table must not sync unfiltered
    intercept[IllegalArgumentException](s.rowFilters("""[{"data.id": 1}]"""))
  }

  test("syncConfigured honors the TABLES subset and the configured filter") {
    val s = GraftSettings.fromDotEnv(envExample)
    val filters = s.rowFilters("""{"events": {"data.event_type": {"$in": ["click"]}}}""")
    val out = Registry.syncConfigured(spark, sfDir, s, filters)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    // only the 3 configured tables, sorted; customer/supplier excluded
    assert(out.keySet == Set("events", "lineitem", "orders"))
    // the events filter prunes before latest-wins: current state counts only
    // users whose latest-click row survives — must equal the direct compute
    val expected = operators.MergeOps.latestByKey(
      Tables.events(spark, sfDir).where(col("event_type") === "click"),
      Seq("user_id"), Seq("ts_us", "event_id")).count()
    assert(out("events") == expected)
    assert(out("events") > 0)
  }

  test("backfill window wires into ExportCatalog.backfillPlan") {
    val s = GraftSettings.fromDotEnv(envExample)
    val files = Seq(
      ExportFile("/x/events-0-900.parquet", "public", "events", 0L, 900L, isEmpty = false),
      ExportFile("/x/events-900-1100.parquet", "public", "events", 900L, 1100L, isEmpty = false),
      ExportFile("/x/events-1100-1900.parquet", "public", "events", 1100L, 1900L, isEmpty = false),
      ExportFile("/x/events-2100-2500.parquet", "public", "events", 2100L, 2500L, isEmpty = false))
    assert(s.backfillWindow.contains((1000L, 2000L)))
    val plan = s.backfillPlanFor(files, "events")
    assert(plan.map(_.startTs) == Seq(900L, 1100L))
    // no window configured → empty selection
    assert(GraftSettings(Map.empty[String, String]).backfillPlanFor(files, "events").isEmpty)
  }
}
