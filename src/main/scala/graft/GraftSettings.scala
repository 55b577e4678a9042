package graft

import org.apache.spark.sql.Column
import org.json4s._
import org.json4s.jackson.JsonMethods

import graft.operators.{Registry, RowFilter}
import graft.sources.{ExportCatalog, ExportFile}

/** Env-driven runtime configuration — the reference's `settings.py:35-197`
  * + `env.example` surface re-expressed as one reader: a KEY=VALUE
  * environment (process env or .env text) turns into the parameters the
  * sync entry points consume — the table list, the per-table filter
  * predicates, the incremental cadence, the backfill window, schema and
  * identity names.
  *
  * Deliberately absent: settings whose job Spark already does. The S3
  * download pool (`download_workers`/`s3_pool_size`/chunked transfers) is
  * the distributed parquet scan; postgres pooling belongs to the JDBC sink
  * config; datadog/statsd is OpsMetrics. Keeping those out is the point —
  * a Spark deployment should not carry dead knobs.
  */
final case class GraftSettings(env: Map[String, String]) {

  private def get(k: String): Option[String] =
    env.get(k).map(_.trim).filter(_.nonEmpty)

  private def csv(k: String): Seq[String] =
    get(k).toSeq.flatMap(_.split(',')).map(_.trim).filter(_.nonEmpty)

  /** TABLES= comma list; empty means every registered table (the reference
    * gates its thread-pool spawn on the same list, `main.py`).
    */
  val tables: Seq[String] = {
    val t = csv("TABLES")
    if (t.isEmpty) Registry.syncTables.keys.toSeq.sorted else t
  }

  /** VIEWS= computed tables (reference `views` — optional, default none). */
  val views: Seq[String] = csv("VIEWS")

  val npeVersion: String = get("NPE_VERSION").getOrElse("v2")

  /** NPE_DURATION with the `settings.initialize()` defaulting rule:
    * v2 → 300s windows, v3 → 1s windows, anything else must be explicit.
    */
  val incrementalDuration: Long = get("NPE_DURATION").map(_.toLong).getOrElse {
    npeVersion match {
      case "v2" => 300L
      case "v3" => 1L
      case other =>
        throw new IllegalArgumentException(s"no incremental duration set for npe_version '$other'")
    }
  }

  /** Source dataset schema (PARQUET_S3_SCHEMA) — part of the export path
    * layout the catalog lists.
    */
  val sourceSchema: String = get("PARQUET_S3_SCHEMA").getOrElse("farcaster")

  /** Target schema; blank collapses to "public" (reference initialize()). */
  val targetSchema: String = env.get("POSTGRES_SCHEMA").map(_.trim).filter(_.nonEmpty).getOrElse("public")

  /** Root directory of locally landed exports (LOCAL_INPUT_DIR); the
    * reference nests version/database below it (`target_dir()`).
    */
  val inputDir: String = get("LOCAL_INPUT_DIR").getOrElse("./data/parquet")

  /** SKIP_FULL_IMPORT=1 — skip the initial full import and ride
    * incrementals only. */
  val skipFullImport: Boolean = GraftSettings.flag(env, "SKIP_FULL_IMPORT")

  /** GRAFT_CENTS_OUT=1 — the engine-level integer-cents OUTPUT switch:
    * every member of OverflowAudit's `cast_double:cents2` row (q12, q13,
    * q16, q73, q74) emits HALF_UP cents as BIGINT with exact sums
    * instead of the `.cast(double)/10^s` dollar form. Flip when the
    * cast-fidelity audit row crosses its TRUE 100%-of-2^53 line (~sf285
    * for the charge-cents family; fired in anger on the sf300 probe) —
    * past it the double output drifts sub-unit while the cents stay exact
    * to 2^63 cents (~$9.2e16). Output-form change, not a representation
    * change: schema differs (`_c2` BIGINT columns, avgs omitted), and the
    * always-on registered forms are q77/q78/q79. The runtime conf
    * `spark.graft.centsOut` overrides this env default in-process.
    */
  val centsOut: Boolean = GraftSettings.flag(env, "GRAFT_CENTS_OUT")

  val targetName: String = get("TARGET_NAME").getOrElse("unknown")

  /** CU accounting mode → emitted metric name (CuMode.metric,
    * `settings.py:18-30`): on → usage.cu, shadow → shadow.usage.cu,
    * off → none.
    */
  val cuMetric: Option[String] = get("CU_MODE").getOrElse("off").toLowerCase match {
    case "on" => Some("usage.cu")
    case "shadow" => Some("shadow.usage.cu")
    case _ => None
  }

  /** Optional backfill window [start, end] in export-timestamp seconds. */
  val backfillWindow: Option[(Long, Long)] = for {
    s <- get("BACKFILL_START_TS")
    e <- get("BACKFILL_END_TS")
  } yield (s.toLong, e.toLong)

  /** FILTERS_JSON document (the `filters.example.json` shape:
    * `{"schema.table": {column: ops}}`) compiled to one pushdown-able
    * predicate per table via [[graft.operators.RowFilter]]. Keys may carry
    * a schema prefix; the table name is the last dotted segment.
    */
  def rowFilters(filtersJson: String): Map[String, Column] =
    JsonMethods.parse(filtersJson) match {
      case JObject(fields) => fields.map { case (k, doc) =>
        k.split('.').last -> RowFilter.compile(JsonMethods.compact(JsonMethods.render(doc)))
      }.toMap
      case other =>
        throw new IllegalArgumentException(s"FILTERS_JSON must be an object keyed by table, got $other")
    }

  /** The registry subset this deployment syncs (TABLES ∩ registered). */
  def registrySyncTables: Map[String, (Seq[String], Seq[String])] =
    Registry.syncTables.view.filterKeys(tables.contains).toMap

  /** The configured backfill selection for one table — wires the window
    * into [[ExportCatalog.backfillPlan]].
    */
  def backfillPlanFor(files: Seq[ExportFile], table: String): Seq[ExportFile] =
    backfillWindow match {
      case Some((s, e)) => ExportCatalog.backfillPlan(files, table, s, e)
      case None => Seq.empty
    }
}

object GraftSettings {

  /** The one boolean env-flag parse: "1" or "true" (any case, trimmed)
    * is on; anything else, or no key, is off. */
  def flag(env: Map[String, String], key: String): Boolean = env.get(key).exists(isOn)

  def isOn(v: String): Boolean = {
    val t = v.trim
    t == "1" || t.equalsIgnoreCase("true")
  }

  /** Read from the process environment. */
  def fromEnv(): GraftSettings = GraftSettings(sys.env)

  /** Read from .env-file text (the reference loads the same file through
    * pydantic-settings' dotenv support).
    */
  def fromDotEnv(text: String): GraftSettings = GraftSettings(parseDotEnv(text))

  /** KEY=VALUE lines; blank lines and # comments skipped; values may be
    * single/double quoted and may carry a trailing `  # comment` (the
    * env.example style).
    */
  def parseDotEnv(text: String): Map[String, String] =
    text.linesIterator
      .map(_.trim)
      .filter(l => l.nonEmpty && !l.startsWith("#"))
      .flatMap { l =>
        val i = l.indexOf('=')
        if (i <= 0) None
        else {
          val k = l.substring(0, i).trim
          val raw = l.substring(i + 1).trim
          val noComment = {
            val h = raw.indexOf(" #")
            if (h >= 0) raw.substring(0, h).trim else raw
          }
          val v =
            if (noComment.length >= 2 &&
              ((noComment.head == '"' && noComment.last == '"') ||
                (noComment.head == '\'' && noComment.last == '\'')))
              noComment.substring(1, noComment.length - 1)
            else noComment
          Some(k -> v)
        }
      }
      .toMap
}
