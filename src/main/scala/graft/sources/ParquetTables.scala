package graft.sources

import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}

/** The one way `src/main` opens a parquet table: with its schema taken from
  * one driver-side footer read, so the open launches no Spark job.
  *
  * A schema-less `spark.read.parquet(paths)` infers the schema through
  * `ParquetUtils.inferSchema`, which runs a whole Spark job to read what
  * non-merging inference needs: the footer of the first data file it lists.
  * That job is a fixed cost of every query that opens a table, paid once
  * per table. Here the same footer is read on the driver through
  * [[RowGroupResume.footer]], and Spark's own footer-to-schema rule
  * ([[org.apache.spark.sql.graft.RowGroupScan.schema]]) turns it into the
  * schema inference would have returned. Nothing is cached: every open reads
  * its footer again, so a rewritten directory is seen at once.
  *
  * The open falls back to plain `spark.read.parquet` — so Spark raises its
  * own error or merges schemas itself — when no path holds a data file (a
  * missing path, an empty directory, a directory of partition
  * subdirectories) and when the session merges parquet schemas. Summary
  * files (`_metadata`, `_common_metadata`), which Spark's inference would
  * prefer, are not consulted; Spark writes none unless
  * `parquet.summary.metadata.level` asks for them.
  */
object ParquetTables {

  /** Names Spark's file listing skips (`InMemoryFileIndex`): hidden files,
    * markers such as `_SUCCESS`, checksum files, in-flight copies.
    */
  private def hidden(name: String): Boolean =
    name.startsWith("_") || name.startsWith(".") || name.endsWith("._COPYING_")

  /** The first data file of the first path that has one: the path itself
    * when it is a file, else its first child file in listing order — the
    * file non-merging inference reads.
    */
  private def firstDataFile(spark: SparkSession, paths: Seq[String]): Option[FileStatus] = {
    val conf = spark.sparkContext.hadoopConfiguration
    paths.iterator.flatMap { p =>
      val path = new Path(p)
      val fs = path.getFileSystem(conf)
      Option(fs.globStatus(path)).iterator.flatten
        .flatMap(s => if (s.isDirectory) fs.listStatus(s.getPath).iterator else Iterator(s))
        .filter(s => s.isFile && !hidden(s.getPath.getName))
    }.nextOption()
  }

  /** `spark.read.parquet(paths: _*)` with the schema it would infer. */
  def open(spark: SparkSession, paths: String*): DataFrame = {
    val merging = spark.conf.get("spark.sql.parquet.mergeSchema").toBoolean
    (if (merging) None else firstDataFile(spark, paths)) match {
      case Some(file) => spark.read.schema(RowGroupResume.footer(spark, file).schema).parquet(paths: _*)
      case None => spark.read.parquet(paths: _*)
    }
  }
}
