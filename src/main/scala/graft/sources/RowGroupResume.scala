package graft.sources

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileStatus, FileSystem, Path}
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.metadata.ParquetMetadata
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.graft.RowGroupScan
import org.apache.spark.sql.types.StructType

import scala.jdk.CollectionConverters._

/** Row-group-granular resume of an interrupted full import
  * (reference `check_for_past_full_import`, db.py:211-258: a partial full
  * restarts at `last_row_group_imported + 1`, not at byte 0).
  *
  * The reference walks a full export row-group-by-row-group because it is a
  * single-threaded row loop; Spark imports a full in one distributed job.
  * What survives translation is the *transactional chunking*: the import
  * advances in row-group-aligned batches, each batch is committed to the
  * sink before progress is recorded, and a crash resumes at the first
  * unrecorded batch — a 100 GB full that dies at 90% re-imports one batch,
  * not the file.
  *
  *  - The footer is read once per file, driver-side: row-group boundaries
  *    (row counts, byte offsets and sizes) and the Spark schema come from
  *    that one read — no schema-inference job, no second footer open.
  *  - A batch is a scan of exactly its own row groups, one task per group
  *    ([[org.apache.spark.sql.graft.RowGroupScan]]): each task's byte range
  *    is one group's, so batch membership is exact by construction.
  *  - Progress is a marker file per completed row group (`rg-<index>`,
  *    one for each group of a batch) — atomic create, no read-modify-write,
  *    safe under concurrent observers. The resume point is the contiguous
  *    prefix of markers ([[lastImported]]). Markers are recorded AFTER the
  *    sink commits, so the crash window re-imports the in-flight batch; the
  *    sink's latest-wins upsert makes that replay idempotent, exactly the
  *    reference's semantics.
  *
  * Scale note: a batch touches only its groups' byte ranges, so a full of
  * G groups costs one scan of the file in G tasks whatever the batch size
  * B, and a resume skips the committed groups without opening their pages.
  * A batch runs its B groups as B parallel tasks, so B is both the commit
  * granularity and the sink's write parallelism. The common case —
  * a multi-file 100 TB full — resumes at file granularity first
  * (ExportCatalog), and this path only walks the one interrupted file.
  */
object RowGroupResume {

  /** One parquet row group: ordinal, row count, the file-wide index of its
    * first row (cumulative sum of prior groups' counts), and its byte range
    * — the first column chunk's starting position (its dictionary page when
    * it has one) and the group's compressed size.
    */
  final case class RowGroup(index: Int, rows: Long, firstRowIndex: Long, start: Long, bytes: Long)

  /** What one footer read of a parquet file yields: its status, its row
    * groups, and the Spark schema `spark.read.parquet` would infer for it.
    */
  final case class ParquetFooter(status: FileStatus, groups: Seq[RowGroup], schema: StructType)

  private def status(conf: Configuration, file: String): FileStatus = {
    val path = new Path(file)
    path.getFileSystem(conf).getFileStatus(path)
  }

  private def readFooter[T](conf: Configuration, status: FileStatus)(f: ParquetMetadata => T): T = {
    val reader = ParquetFileReader.open(HadoopInputFile.fromStatus(status, conf))
    try f(reader.getFooter) finally reader.close()
  }

  private def groupsOf(footer: ParquetMetadata): Seq[RowGroup] = {
    var firstRow = 0L
    footer.getBlocks.asScala.toSeq.zipWithIndex.map { case (b, i) =>
      val g = RowGroup(i, b.getRowCount, firstRow, b.getStartingPos, b.getCompressedSize)
      firstRow += b.getRowCount
      g
    }
  }

  /** Read row-group boundaries from the parquet footer — driver-side, no
    * data pages touched.
    */
  def rowGroups(conf: Configuration, file: String): Seq[RowGroup] =
    readFooter(conf, status(conf, file))(groupsOf)

  /** Row groups and Spark schema of `file` from a single footer read. */
  def footer(spark: SparkSession, file: String): ParquetFooter =
    footer(spark, status(spark.sparkContext.hadoopConfiguration, file))

  /** The same, for a file whose status a listing already returned. */
  def footer(spark: SparkSession, file: FileStatus): ParquetFooter =
    readFooter(spark.sparkContext.hadoopConfiguration, file) { footer =>
      ParquetFooter(file, groupsOf(footer), RowGroupScan.schema(spark, file, footer))
    }

  /** Tracking markers live under `trackingDir/<base name>-<path hash>/rg-<N>`.
    * The path hash disambiguates files that share a base name under
    * different directories (export layouts repeat names across date dirs) —
    * keying on the base name alone would let one file's markers silently
    * skip another's row groups. The hash is computed over the
    * fs-QUALIFIED path, so different spellings of the same file (relative,
    * absolute, with/without scheme) resolve to the same marker dir.
    */
  private def markerDir(fs: FileSystem, trackingDir: String, file: String): Path = {
    val qualified = fs.makeQualified(new Path(file)).toString
    val crc = new java.util.zip.CRC32
    crc.update(qualified.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    val base = qualified.substring(qualified.lastIndexOf('/') + 1)
    new Path(trackingDir, f"$base-${crc.getValue}%08x")
  }

  /** Highest contiguously-recorded completed row group, or -1. Markers are
    * written in order, so the max is the resume point; a gap (possible only
    * from manual tampering) is clamped to the contiguous prefix to stay
    * safe — better to re-import a batch than to skip one.
    */
  def lastImported(fs: FileSystem, trackingDir: String, file: String): Int = {
    val dir = markerDir(fs, trackingDir, file)
    if (!fs.exists(dir)) return -1
    // strict rg-<digits> match: stray files in the marker dir (editor
    // temps, copy-tool leftovers like "rg-tmp") must be ignored, not
    // throw and permanently wedge resume for this file
    val done = fs.listStatus(dir).iterator
      .map(_.getPath.getName)
      .collect { case s if s.startsWith("rg-") => s.substring(3) }
      .flatMap(_.toIntOption)
      .toSet
    var last = -1
    while (done.contains(last + 1)) last += 1
    last
  }

  def recordProgress(fs: FileSystem, trackingDir: String, file: String, lastGroup: Int): Unit = {
    val dir = markerDir(fs, trackingDir, file)
    if (!fs.exists(dir)) fs.mkdirs(dir)
    // no-overwrite create gives true create-once semantics; an existing
    // marker (crash-replay of an already-recorded batch) is fine as-is —
    // markers are empty, so there is nothing to overwrite. Exact exception
    // type varies by FileSystem impl, so gate the swallow on existence.
    val p = new Path(dir, s"rg-$lastGroup")
    try fs.create(p, false).close()
    catch { case e: java.io.IOException => if (!fs.exists(p)) throw e }
  }

  /** The outcome of one import invocation: batches delivered, and the
    * reference's `(last_row_group_imported, total_row_groups)` tracking row
    * after them. A full is "actually completed" when they meet
    * (db.py:246-250) — including a file with no row groups at all.
    */
  final case class Imported(batches: Int, lastImported: Int, totalGroups: Int) {
    def done: Boolean = lastImported >= totalGroups - 1
  }

  /** Import `file` into `sink` in row-group-aligned batches of
    * `groupsPerBatch`, resuming after the last recorded batch. Returns the
    * batches imported this invocation and the progress they leave behind —
    * derived from the footer and marker listing the import already read,
    * so asking "is the file done?" costs no second footer open.
    *
    * `shouldStop` is the reference's graceful-shutdown check
    * (`SHUTDOWN_EVENT` polled between steps, `db.py:54-56`
    * sleep_or_raise_shutdown): consulted between batches, so a stop lands
    * on a batch boundary — progress markers are already on disk and a
    * later invocation resumes exactly where this one stopped. Mid-batch
    * retry sleeps can abort the same way by throwing from the sink's
    * injectable `sleepMs`.
    */
  def importFull(
      spark: SparkSession,
      file: String,
      trackingDir: String,
      groupsPerBatch: Int,
      sink: DataFrame => Unit,
      shouldStop: () => Boolean = () => false): Imported = {
    require(groupsPerBatch > 0)
    val fs = new Path(trackingDir).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val footer = this.footer(spark, file)
    var last = lastImported(fs, trackingDir, file)
    val it = footer.groups.drop(last + 1).grouped(groupsPerBatch)
    lazy val reader = new RowGroupScan.Reader(spark, footer.status, footer.schema)
    var imported = 0
    while (it.hasNext && !shouldStop()) {
      val batch = it.next()
      sink(reader.groups(batch.map(g => (g.start, g.bytes))))
      // progress lands only after the sink committed: the crash window
      // replays the in-flight batch (idempotent under the upsert guard)
      batch.foreach(g => recordProgress(fs, trackingDir, file, g.index))
      last = batch.last.index
      imported += 1
    }
    Imported(imported, last, footer.groups.size)
  }
}
