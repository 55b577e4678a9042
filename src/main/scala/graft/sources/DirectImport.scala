package graft.sources

import org.apache.spark.sql.{Column, DataFrame, SparkSession}

/** Single-file import — the reference's `cli/direct_import.py` re-expressed
  * over the existing sources/sink stack.
  *
  * The reference CLI parses the export filename to find the target table,
  * classifies the file as full (start==0) or incremental, then pushes it
  * through the standard row-group import loop with tracking and optional
  * row filters (direct_import.py:22-105 → db.py import_parquet). Here the
  * same composition is [[ExportCatalog.parseName]] →
  * [[RowGroupResume.importFile]] (row-group batches, crash-resumable
  * markers) → the caller's sink, with an optional
  * [[graft.operators.RowFilter]] predicate applied per batch before
  * delivery (the reference's `row_filters`, which its CLI TODO-stubs).
  *
  * `.empty` marker files import zero batches but still report `done` —
  * the reference's empty-window semantics (the window advanced, nothing
  * to load).
  */
object DirectImport {

  /** What the CLI logs at the end: the table it targeted, the inferred
    * file type, batches delivered this invocation, and whether the file is
    * now fully imported (resume-aware — a second run on a finished file
    * delivers nothing and stays `done`).
    */
  final case class Result(table: String, fileType: String, batches: Int, done: Boolean)

  def run(
      spark: SparkSession,
      parquetFile: String,
      trackingDir: String,
      sink: (String, DataFrame) => Unit,
      groupsPerBatch: Int = 4,
      rowFilter: Option[Column] = None,
      shouldStop: () => Boolean = () => false): Result = {
    val parsed = ExportCatalog.parseName(parquetFile).getOrElse(
      throw new IllegalArgumentException(
        s"parquet filename does not match schema-table-start-end.parquet: $parquetFile"))
    val fileType = if (parsed.isFull) "full" else "incremental"
    if (parsed.isEmpty) return Result(parsed.tableName, fileType, 0, done = true)

    val deliver: DataFrame => Unit = df =>
      sink(parsed.tableName, rowFilter.map(df.where).getOrElse(df))
    val r = RowGroupResume.importFile(
      spark, parquetFile, trackingDir, groupsPerBatch, deliver, shouldStop)
    Result(parsed.tableName, fileType, r.batches, r.done)
  }
}
