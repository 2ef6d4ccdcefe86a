package graft.stream

import org.apache.spark.sql.{DataFrame, Dataset, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import org.apache.spark.sql.types.StructType

/** T3 stream store ingest (workers/snodb/snodb.h:90-188): a live feed
  * lands in an append-only per-day store while live subscribers get the
  * same rows fanned out.
  *
  * Spark-first shape: Structured Streaming file source → `foreachBatch`
  * that (1) appends the micro-batch to the partitioned parquet store
  * sorted within partitions by (subject, time) — the reference's
  * insertion-sorted series (O1) — and (2) publishes to the in-process
  * subscriber registry (T1). The checkpoint directory is the WAL
  * (S5): exactly-once per micro-batch replaces the reference's
  * fsync-before-ack redo log. Watermarking/ordering improvements over
  * the reference's assume-ordered feed (sis_db.h:71-76) live in the
  * store's read path, which orders by (time, ingest seq).
  */
object Ingest {

  /** Start a file-source ingest stream.
    *
    * Exactly-once store contents under crash: each micro-batch writes
    * under its own `__batch=<id>` partition with DYNAMIC overwrite, so
    * when a kill lands between the parquet write and the checkpoint
    * commit, the restarted stream replays the batch (same offsets from
    * the offset log — the redo log) and the rewrite REPLACES the torn
    * files instead of appending duplicates. This is the reference's
    * WAL replay guarantee (sisdb_server.c:448-453, workers/sisdb/
    * sisdb.c:603-639: redo applied exactly once on startup); a plain
    * `append` sink would only be at-least-once. The per-batch dirs are
    * what [[compact]] folds back into few files (NOT ops/Write.pack —
    * that would flatten the layout to `__day=*` and conflict with the
    * next batch's two-level write).
    *
    * @param dayCol  expression deriving the partition day from the
    *                batch (e.g. date_format(ts, 'yyyy-MM-dd'))
    * @param crashAfterBatch fault injection for recovery testing: throw
    *                after this batch's store write lands but BEFORE its
    *                checkpoint commit — the exact torn state a real
    *                kill leaves behind.
    * @param table   the logical table name tagged onto every publish so
    *                table-qualified sub patterns (`subjects.tables`)
    *                match this stream; `""` = untagged (matches any
    *                pattern's table side).
    */
  def start(
      spark: SparkSession,
      srcDir: String,
      schema: StructType,
      storePath: String,
      checkpointDir: String,
      subjectCol: String,
      timeCol: String,
      dayCol: org.apache.spark.sql.Column,
      subs: SubRegistry = new SubRegistry,
      availableNow: Boolean = true,
      maxFilesPerTrigger: Option[Int] = None,
      crashAfterBatch: Option[Long] = None,
      table: String = ""): StreamingQuery = {
    val reader = spark.readStream.schema(schema)
    val src = maxFilesPerTrigger
      .fold(reader)(n => reader.option("maxFilesPerTrigger", n))
      .parquet(srcDir)
    val sink: (Dataset[Row], Long) => Unit = { (batch, batchId) =>
      val withDay = batch.withColumn("__day", dayCol)
        .withColumn("__ingest_seq", monotonically_increasing_id())
      val sorted = withDay
        .withColumn("__batch", lit(batchId))
        .repartition(col("__day"))
        .sortWithinPartitions(col(subjectCol), col(timeCol))
      sorted.persist()
      try {
        sorted.write.mode("overwrite")
          .option("partitionOverwriteMode", "dynamic")
          .partitionBy("__batch", "__day").parquet(storePath)
        if (crashAfterBatch.contains(batchId))
          throw new IllegalStateException(
            s"injected crash after store write of batch $batchId")
        subs.publish(sorted.drop("__ingest_seq", "__batch"), subjectCol, table)
      } finally sorted.unpersist()
    }
    val writer = src.writeStream
      .foreachBatch(sink)
      .option("checkpointLocation", checkpointDir)
    (if (availableNow) writer.trigger(Trigger.AvailableNow()) else writer)
      .start()
  }

  /** The store's ordered read view: day-pruned scan (Catalyst partition
    * pruning on `__day`) ordered by (time, ingest seq) so equal
    * timestamps keep arrival order (sisdb_fmap_write.c:374-385). */
  def read(spark: SparkSession, storePath: String,
      day: Option[String] = None): DataFrame = {
    val df = spark.read.parquet(storePath)
    day.fold(df)(d => df.filter(col("__day") === d))
  }

  /** Compaction for the ingest store (the reference's weekly `pack`,
    * sisdb.c:586-602): folds the accumulated `__batch=*` dirs into a
    * single `__batch=0` generation with `targetFiles` files per day,
    * PRESERVING the two-level layout so subsequent micro-batches (and
    * crash replays of still-uncommitted batches) keep composing.
    * Like the reference's pack, run this in a maintenance window with
    * ingest quiesced — compacting rows of a batch the checkpoint has
    * not committed would let its replay re-add them. */
  def compact(spark: SparkSession, storePath: String,
      subjectCol: String, timeCol: String,
      targetFiles: Int = 4): Unit = {
    val tmp = storePath.stripSuffix("/") + "__packing"
    spark.read.parquet(storePath)
      .withColumn("__batch", lit(0L))
      .repartition(targetFiles, col("__day"))
      // keep the per-file (subject, time) order the batch writes
      // established — O1's sorted-series property survives compaction
      .sortWithinPartitions(col("__day"), col(subjectCol), col(timeCol))
      .write.mode("overwrite").partitionBy("__batch", "__day").parquet(tmp)
    val fs = graft.store.TsStore.rootFs(spark, storePath)
    val p = new org.apache.hadoop.fs.Path(storePath)
    fs.delete(p, true)
    if (!fs.rename(new org.apache.hadoop.fs.Path(tmp), p))
      throw new java.io.IOException(s"could not commit compaction at $p")
  }
}
