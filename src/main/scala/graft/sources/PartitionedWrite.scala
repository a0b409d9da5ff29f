package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.core.Pin

/** Output-side table management: partitioned parquet layout with
  * dynamic partition overwrite, and small-file compaction.
  *
  * At 100 TB the write path is as load-bearing as the read path: a
  * daily pipeline must (a) replace exactly the partitions it
  * recomputed without touching the rest (STATIC overwrite mode wipes
  * the whole table root — the classic data-loss footgun), (b) bound
  * file sizes so downstream scans neither choke on 10 GB files nor
  * drown in 10 KB ones, and (c) periodically compact the small files
  * that incremental appends accumulate (each file is a scan task; a
  * million tiny files is a scheduler DoS). */
object PartitionedWrite {

  /** Write `df` partitioned by `partitionCols`, replacing ONLY the
    * partitions present in `df` (dynamic overwrite). File size is
    * bounded via maxRecordsPerFile. The overwrite-mode conf is set for
    * the write and restored after — it is session-global and leaving
    * it flipped would silently change other writers' semantics. */
  def overwritePartitions(df: DataFrame, dir: String, partitionCols: Seq[String],
      maxRecordsPerFile: Long = 1000000L): Unit = {
    val spark = df.sparkSession
    val key = "spark.sql.sources.partitionOverwriteMode"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key, "dynamic")
    try {
      df.write
        .mode("overwrite")
        .option("maxRecordsPerFile", maxRecordsPerFile)
        .partitionBy(partitionCols: _*)
        .parquet(dir)
    } finally {
      prev match {
        case Some(v) => spark.conf.set(key, v)
        case None => spark.conf.unset(key)
      }
    }
  }

  /** MERGE-INTO semantics on plain parquet: upsert `updates` into the
    * partitioned table at `dir`, matching on `keyCols` — existing rows
    * with a matching key are replaced, everything else is kept, new
    * keys are inserted. Only the partitions PRESENT in `updates` are
    * read and rewritten (left-semi on the update's partition values),
    * so a daily delta touching 1 of 1000 partitions costs 1/1000th of
    * the table — the transactional-sink MERGE pattern (reference's
    * Postgres ON CONFLICT sink) re-expressed for files. Keys must not
    * straddle partitions (a key's partition columns are part of its
    * identity), the usual MERGE-on-partitioned-table contract. */
  def upsertPartitions(updates: DataFrame, dir: String, partitionCols: Seq[String],
      keyCols: Seq[String], maxRecordsPerFile: Long = 1000000L): Unit = {
    val spark = updates.sparkSession
    val touched = updates.select(partitionCols.map(col): _*).distinct()
    val existing = spark.read.parquet(dir)
      .join(touched, partitionCols, "left_semi")
    // materialize before replacing the files it reads
    val merged = Pin(existing.join(updates.select(keyCols.map(col): _*), keyCols, "left_anti")
      .unionByName(updates))
    overwritePartitions(merged, dir, partitionCols, maxRecordsPerFile)
    Pin.free(merged) // Dataset.unpersist is a no-op on a checkpoint
  }

  /** Compact one partition directory in place: read, coalesce to
    * ceil(rows / targetRecordsPerFile) files, rewrite atomically via a
    * dynamic partition overwrite of just that partition. Narrow
    * (coalesce, not repartition — no shuffle); run per-partition so a
    * compaction job never rewrites data that is already well-shaped. */
  def compactPartition(spark: SparkSession, dir: String,
      partitionCols: Seq[String], partitionValues: Seq[Any],
      targetRecordsPerFile: Long = 1000000L): Unit = {
    require(partitionCols.length == partitionValues.length)
    val pred = partitionCols.zip(partitionValues)
      .map { case (c, v) => col(c) === lit(v) }.reduce(_ && _)
    // the pin MATERIALIZES the partition before any file is
    // replaced — rewriting a directory from a lazy plan that still
    // reads it is a torn-read hazard (and Spark rejects the direct
    // overwrite-what-you-read form outright)
    val part = Pin(spark.read.parquet(dir).filter(pred))
    val rows = part.count()
    if (rows > 0) {
      val nFiles = math.max(1L, (rows + targetRecordsPerFile - 1) / targetRecordsPerFile)
      overwritePartitions(part.coalesce(nFiles.toInt), dir, partitionCols,
        targetRecordsPerFile)
    }
    Pin.free(part)
  }
}
