package graft.sources

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.operators.MergeOps

/** One exported parquet window, parsed from the export naming scheme
  * `{schema}-{table}-{startTs}-{endTs}.(parquet|empty)`.
  *
  * Mirrors the reference's filename contract
  * (s3.py:20-33 `parse_parquet_filename`): a full export is `start == 0`;
  * incrementals are fixed-duration windows where each file's start equals
  * the previous file's end (main.py:294-297). `.empty` marks a window that
  * produced no rows — it must advance the cursor but contributes nothing.
  */
final case class ExportFile(
    path: String,
    schemaName: String,
    tableName: String,
    startTs: Long,
    endTs: Long,
    isEmpty: Boolean) {
  def isFull: Boolean = startTs == 0L
}

/** The files a single consistent load needs: the newest usable full export
  * plus the contiguous chain of incrementals after it.
  */
final case class LoadPlan(full: ExportFile, incrementals: Seq[ExportFile]) {
  /** Everything the state table reflects after loading: max covered end. */
  def asOf: Long = (full +: incrementals).map(_.endTs).max
  def parquetPaths: Seq[String] =
    (full +: incrementals).filterNot(_.isEmpty).map(_.path)
}

/** Batch-side discovery of the reference's export layout.
  *
  * The reference drives this with S3 ListObjectsV2 + a tracking table
  * (s3.py:94-130 `download_latest_full`, main.py:195-300 incremental loop).
  * Spark-first, discovery is a Hadoop `FileSystem` listing — identical code
  * path for local disk, HDFS, or s3a:// — and the "plan" is computed once on
  * the driver from file *names only* (no data read), then handed to ONE
  * parquet scan over all of them ([[ParquetTables.open]]) so the cluster
  * never opens a file outside the requested window. That listing-then-prune is the file-level analog of
  * partition pruning and is what keeps a 100 TB export directory cheap: the
  * driver touches metadata, executors touch only selected windows.
  */
object ExportCatalog {

  private val NameRe = """(.+)-(.+)-(\d+)-(\d+)\.(parquet|empty)""".r

  def parseName(path: String): Option[ExportFile] = {
    val base = path.substring(path.lastIndexOf('/') + 1)
    base match {
      case NameRe(schema, table, start, end, ext) =>
        Some(ExportFile(path, schema, table, start.toLong, end.toLong, ext == "empty"))
      case _ => None
    }
  }

  /** List every export file under `dir` (non-recursive, names-only). */
  def list(spark: SparkSession, dir: String): Seq[ExportFile] = {
    val p = new Path(dir)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(p)) Seq.empty
    else
      fs.listStatus(p)
        .iterator
        .filter(_.isFile)
        .flatMap(s => parseName(s.getPath.toString))
        .toSeq
        .sortBy(f => (f.startTs, f.endTs))
  }

  /** Choose the newest full export at-or-before `asOf` and the contiguous
    * incremental chain from its end toward `asOf`. A hole in the chain stops
    * the plan at the last contiguous window (the reference instead raises
    * "incremental_filename is missing. full import needed", main.py:240-242;
    * callers that need that behavior can compare `plan.asOf` to their
    * target). Duplicate windows (re-uploads) collapse to one file.
    *
    * `fullNotOlderThan` rejects fulls whose window ends before it — the
    * reference's retention guard ("full is too old. starting over",
    * main.py:245-252: exports older than the S3 retention window may be
    * missing their incremental successors entirely).
    */
  def plan(
      files: Seq[ExportFile],
      table: String,
      asOf: Long = Long.MaxValue,
      fullNotOlderThan: Long = 0L): Option[LoadPlan] = {
    val forTable = files.filter(_.tableName == table)
    val fulls = forTable.filter(f => f.isFull && f.endTs <= asOf && f.endTs >= fullNotOlderThan)
    fulls.sortBy(_.endTs).lastOption.map { full =>
      val byStart = forTable
        .filter(f => !f.isFull && f.startTs >= full.endTs && f.endTs <= asOf)
        .groupBy(_.startTs)
        .map { case (_, dupes) => dupes.maxBy(_.endTs) }
        .toSeq
        .sortBy(_.startTs)
      val chain = Seq.newBuilder[ExportFile]
      var cursor = full.endTs
      var i = 0
      var halted = false
      while (i < byStart.length && !halted) {
        val f = byStart(i)
        if (f.startTs == cursor) { chain += f; cursor = f.endTs }
        else if (f.startTs > cursor) halted = true // gap: stop at last contiguous window
        i += 1
      }
      LoadPlan(full, chain.result())
    }
  }

  /** Backfill selection (reference `cli/backfill.py`): the incremental
    * windows OVERLAPPING `[startTs, endTs]`, each to be re-imported with
    * the row-level timestamp range applied. Unlike [[plan]], there is no
    * full export and no contiguity requirement — a history replay
    * tolerates holes (the reference tracks backfill imports separately via
    * the tracking table's `backfill` column so they never shadow the live
    * chain). Duplicate re-uploads collapse to the widest window, `.empty`
    * windows carry nothing and are dropped.
    */
  def backfillPlan(
      files: Seq[ExportFile],
      table: String,
      startTs: Long,
      endTs: Long): Seq[ExportFile] = {
    require(startTs <= endTs, s"empty backfill window: $startTs > $endTs")
    files
      .filter(f => f.tableName == table && !f.isFull && !f.isEmpty &&
        f.endTs >= startTs && f.startTs <= endTs)
      .groupBy(_.startTs)
      .map { case (_, dupes) => dupes.maxBy(_.endTs) }
      .toSeq
      .sortBy(_.startTs)
  }

  /** Load a backfill window: one scan over the selected files with the
    * `startTs <= tsCol <= endTs` row filter (the reference's backfill
    * window guard) pushed into the scan — files bound the read via their
    * window names, the predicate bounds the rows. The schema is the first
    * selected file's, read from its footer on the driver.
    */
  def loadBackfill(
      spark: SparkSession,
      files: Seq[ExportFile],
      tsCol: String,
      startTs: Long,
      endTs: Long): DataFrame = {
    require(files.nonEmpty, "backfill window selected no files")
    import org.apache.spark.sql.functions.col
    ParquetTables.open(spark, files.map(_.path): _*)
      .where(col(tsCol) >= startTs && col(tsCol) <= endTs)
  }

  /** Materialize the current state table for a plan: one parquet read over
    * exactly the planned files, then a single latest-wins merge. The union of
    * full + incrementals never round-trips through per-file loops — Spark
    * schedules all row groups of all selected files as one scan stage. The
    * schema is the full export's (the first path), read from its footer on
    * the driver, as Spark's non-merging inference would take it: a column
    * that only a later incremental carries is not read.
    */
  def load(
      spark: SparkSession,
      p: LoadPlan,
      keys: Seq[String],
      ord: Seq[String]): DataFrame = {
    val paths = p.parquetPaths
    require(paths.nonEmpty, "plan contains only .empty windows")
    MergeOps.latestByKey(ParquetTables.open(spark, paths: _*), keys, ord)
  }
}
