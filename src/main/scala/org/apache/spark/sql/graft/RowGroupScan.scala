package org.apache.spark.sql.graft

import org.apache.hadoop.fs.FileStatus
import org.apache.parquet.hadoop.Footer
import org.apache.parquet.hadoop.metadata.ParquetMetadata
import org.apache.spark.paths.SparkPath
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.classic.{SparkSession => ClassicSession}
import org.apache.spark.sql.execution.datasources.{FileFormat, FilePartition, FileScanRDD, PartitionedFile}
import org.apache.spark.sql.execution.datasources.parquet.{ParquetFileFormat, ParquetToSparkSchemaConverter}
import org.apache.spark.sql.types.StructType

/** A parquet scan over chosen row groups of one file, one task per group.
  *
  * Each partition is one `PartitionedFile` whose byte range is exactly one
  * row group's `[startingPos, startingPos + compressedSize)`. parquet-mr
  * assigns a row group to the split that holds its midpoint, so every task
  * reads exactly its own group — through Spark's vectorized reader, with
  * Spark's own input metrics — and no data page outside the chosen groups
  * is read. Lives under org.apache.spark.sql for the private[sql] reader
  * and DataFrame constructors, like [[ColumnBridge]].
  */
object RowGroupScan {

  private def classic(spark: SparkSession): ClassicSession = spark.asInstanceOf[ClassicSession]

  /** The schema `spark.read.parquet(file)` infers, from a footer already in
    * hand: Spark's own footer-to-schema rule under the session's converter
    * settings, made nullable as every file-source relation is.
    */
  def schema(spark: SparkSession, file: FileStatus, footer: ParquetMetadata): StructType =
    ParquetFileFormat.readSchemaFromFooter(new Footer(file.getPath, footer),
      new ParquetToSparkSchemaConverter(classic(spark).sessionState.conf)).asNullable

  /** Row-group scans of one file. The reader function (and its broadcast
    * Hadoop conf) is built once and shared by every scan of the file.
    */
  final class Reader(spark: SparkSession, file: FileStatus, schema: StructType) {
    private val session = classic(spark)
    private val read = new ParquetFileFormat().buildReaderWithPartitionValues(
      session, schema, new StructType(), schema, Nil,
      Map(FileFormat.OPTION_RETURNING_BATCH -> "false"), session.sessionState.newHadoopConf())
    private val path = SparkPath.fromPath(file.getPath)

    /** The rows of the row groups at these `(startingPos, compressedSize)`
      * byte ranges, one partition per group, in the given order.
      */
    def groups(ranges: Seq[(Long, Long)]): DataFrame = {
      val parts = ranges.zipWithIndex.map { case ((start, length), i) =>
        FilePartition(i, Array(PartitionedFile(InternalRow.empty, path, start, length,
          Array.empty[String], file.getModificationTime, file.getLen)))
      }
      session.internalCreateDataFrame(new FileScanRDD(session, read, parts, schema), schema)
    }
  }
}
