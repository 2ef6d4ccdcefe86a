package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** The reference's write algebra (M1-M8, SURVEY.md §2.8) as
  * deterministic batch jobs over plain DataFrames. Parquet has no MERGE,
  * so upsert is a dedupe job: one window per (subject, unique-fields)
  * group keyed by an explicit ingest sequence — the reference gets the
  * same tie-breaking implicitly from arrival order
  * (sisdb_fmap_write.c:256-305).
  */
object Write {

  /** M3 unique-key ("solely") upsert: within each (subject, soleCols...,
    * time) group the row with the highest ingest sequence wins — the
    * reference replaces the *last* matching row, searching backwards
    * (sisdb_fmap_cxt_solely_update, sisdb_fmap_write.c:226-342).
    *
    * `existing` rows get sequence -1 so any incoming row replaces them.
    */
  def upsert(
      existing: DataFrame,
      incoming: DataFrame,
      subject: String,
      soleCols: Seq[String],
      time: String,
      seq: String,
      tieBreak: Seq[Column] = Nil): DataFrame = {
    val all = existing.withColumn("__seq", lit(-1L))
      .unionByName(incoming.withColumn("__seq", col(seq).cast("long")))
    val keys = (subject +: soleCols) :+ time
    val w = Window.partitionBy(keys.map(col): _*)
      .orderBy(col("__seq").desc +: tieBreak: _*)
    all.withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1)
      .drop("__rn", "__seq")
  }

  /** M4 time-index append: no unique fields — rows merge keeping time
    * order; equal timestamps keep both, incoming after existing
    * (sisdb_fmap_write.c:374-385). Order is materialized via
    * sortWithinPartitions at write time, matching the reference's
    * insertion-sorted series (O1). */
  def append(
      existing: DataFrame,
      incoming: DataFrame,
      subject: String,
      time: String): DataFrame =
    existing.withColumn("__src", lit(0))
      .unionByName(incoming.withColumn("__src", lit(1)))
      .repartition(col(subject))
      .sortWithinPartitions(col(subject), col(time), col("__src"))
      .drop("__src")

  /** M9 update-by-search (`update key {search:{...}, val:{...}}`,
    * workers/sisdb/sisdb.h:50-53): rewrite matching rows' fields, leave
    * the rest — a conditional column rewrite, no shuffle at all. */
  def updateBySearch(df: DataFrame, search: Column,
      assigns: Map[String, Column]): DataFrame =
    assigns.foldLeft(df) { case (d, (name, value)) =>
      d.withColumn(name, when(search, value).otherwise(col(name)))
    }

  /** M5 delete-by-range: anti-filter rewrite. */
  def deleteRange(df: DataFrame, time: Column, start: Long, stop: Long): DataFrame =
    df.filter(!time.between(start, stop))

  /** M6 drop key: remove a whole subject. */
  def dropKey(df: DataFrame, subject: String, key: Any): DataFrame =
    df.filter(col(subject) =!= lit(key))

  /** M7 save: persist partitioned by a derivable date column — the
    * reference's per-day/per-year file layout (disk/readme.md types 4/6)
    * becomes Hive-style partitions that Catalyst prunes. */
  def save(df: DataFrame, path: String, partitionCols: Seq[String]): Unit =
    df.write.mode("overwrite")
      .partitionBy(partitionCols: _*)
      .parquet(path)

  /** M8 pack: compaction — rewrite each partition to `targetFiles` files
    * (the reference's weekly pack dropping superseded blocks; here
    * superseded rows are already gone after upsert, so pack is purely
    * file-count hygiene). */
  def pack(spark: org.apache.spark.sql.SparkSession, path: String,
      partitionCols: Seq[String], targetFiles: Int): Unit = {
    val tmp = path.stripSuffix("/") + "__packed"
    val df = spark.read.parquet(path)
    df.repartition(targetFiles, partitionCols.map(col): _*)
      .write.mode("overwrite").partitionBy(partitionCols: _*).parquet(tmp)
    // rename-aside swap — the live data is never deleted before the
    // replacement is committed, so a crash at any point leaves either
    // the original or the marker state TsStore.recoverSwaps rolls
    // forward/back (the reference's safe-dir save, sisdb.h:184-189).
    // Assumes atomic directory rename (HDFS/local); an object store
    // deployment needs a manifest committer instead.
    val fs = graft.store.TsStore.rootFs(spark, path)
    val p = new org.apache.hadoop.fs.Path(path)
    val t = new org.apache.hadoop.fs.Path(tmp)
    val o = new org.apache.hadoop.fs.Path(path.stripSuffix("/") + "__old")
    fs.delete(o, true)
    if (!fs.rename(p, o))
      throw new java.io.IOException(s"could not stage swap of $p")
    if (!fs.rename(t, p))
      throw new java.io.IOException(s"could not commit packed store $p")
    fs.delete(o, true)
  }
}
