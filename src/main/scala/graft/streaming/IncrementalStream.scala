package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import graft.operators.MergeOps
import graft.sources.ParquetTables

/** Structured-Streaming re-expression of the reference's incremental loop.
  *
  * The reference polls S3 for `{schema}-{table}-{start}-{end}.parquet`
  * windows and upserts each as it lands (main.py:301-372). In Spark that
  * polling loop IS the Structured Streaming file source: `readStream` on a
  * directory discovers new files exactly once (checkpointed — the analog of
  * the `parquet_import_tracking` table), and `foreachBatch` applies the
  * same latest-wins merge used in batch. `.empty` marker files need no
  * special case — the file source simply never emits rows for them.
  */
object IncrementalStream {

  /** Tail `inputDir` for new parquet slices and maintain a latest-wins state
    * table at `stateDir` (parquet, overwritten per micro-batch after merging
    * with the previous state — a MERGE INTO in Delta/Iceberg deployments).
    * Each micro-batch re-opens the state through [[ParquetTables.open]]: its
    * schema comes from one part file's footer, read on the driver, so the
    * merge adds no schema-inference job to the batch.
    */
  def run(
      spark: SparkSession,
      inputDir: String,
      schemaSample: DataFrame,
      keys: Seq[String],
      ord: Seq[String],
      stateDir: String,
      checkpointDir: String): StreamingQuery = {
    val stream = spark.readStream
      .schema(schemaSample.schema)
      .parquet(inputDir)

    stream.writeStream
      .option("checkpointLocation", checkpointDir)
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        // All state-dir I/O goes through the FileSystem the path resolves to
        // (HDFS/S3A/local alike) — a java.io.File check would always be false
        // off the local disk and silently drop prior state every batch.
        import org.apache.hadoop.fs.Path
        val dst = new Path(stateDir)
        val fs = dst.getFileSystem(batch.sparkSession.sparkContext.hadoopConfiguration)
        val prev = new Path(stateDir + "_prev")
        val tmp = new Path(stateDir + "_tmp")
        // Hadoop FileSystem.rename signals failure by RETURNING FALSE, not
        // throwing — an unchecked rename here would let the batch fall
        // through to deleting the only surviving state copy
        def renameOrFail(from: Path, to: Path): Unit =
          require(fs.rename(from, to), s"rename $from -> $to failed; aborting batch")
        // recover from a crash that landed between the two renames below:
        // current gone but the set-aside copy survives
        if (!fs.exists(dst) && fs.exists(prev)) renameOrFail(prev, dst)
        val merged =
          if (fs.exists(dst))
            MergeOps.snapshotMerge(ParquetTables.open(batch.sparkSession, stateDir), batch, keys, ord)
          else MergeOps.latestByKey(batch, keys, ord)
        // stage → set aside → swap: at every instant either `dst` or `prev`
        // holds a complete state table (delete-then-rename would not)
        merged.write.mode("overwrite").parquet(tmp.toString)
        if (fs.exists(prev)) fs.delete(prev, true)
        val hadState = fs.exists(dst)
        if (hadState) renameOrFail(dst, prev)
        renameOrFail(tmp, dst)
        // only discard the set-aside copy once the swapped-in state is
        // verifiably in place
        if (hadState && fs.exists(dst)) fs.delete(prev, true)
        ()
      }
      .start()
  }

  /** Streaming counterpart of the reference's in-batch PK dedup
    * (db.py:800-815 keeps one row per key per batch): exactly-once-per-key
    * delivery on an unbounded stream, with state bounded by the watermark —
    * `dropDuplicatesWithinWatermark` evicts a key's entry once the
    * watermark passes its event time, so memory is O(keys-per-window),
    * never O(stream). (Plain `dropDuplicates` on a stream would keep every
    * key forever — the state-bound difference that decides 100 TB/∞-time
    * viability.)
    */
  def dedupWithinWatermark(
      events: DataFrame,
      tsCol: String,
      keyCols: Seq[String],
      watermark: String): DataFrame =
    events
      .withWatermark(tsCol, watermark)
      .dropDuplicatesWithinWatermark(keyCols)

  /** Watermarked sliding-window event counts — the streaming aggregation
    * shape (event-time windows + late-data handling) on the events stream.
    */
  def windowedCounts(
      events: DataFrame,
      tsCol: String,
      keyCol: String,
      windowDur: String,
      watermark: String): DataFrame =
    events
      .withWatermark(tsCol, watermark)
      .groupBy(window(col(tsCol), windowDur), col(keyCol))
      .agg(count(lit(1)).as("n"), sum(col("value")).as("sum_value"))
}
