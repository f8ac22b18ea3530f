package graft.streaming

import org.apache.hadoop.fs.{Path => HPath}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import org.apache.spark.sql.types.StructType

import graft.jobs.{Restructure, RestructureJobConfig}
import graft.sources.AvroRead

/** Structured-Streaming form of the restructure pipeline (§2.9 of
  * SURVEY.md): `readStream` file source → derived bin path →
  * per-micro-batch exactly-named bin commit via `foreachBatch`.
  *
  * Semantics matched to the reference service loop:
  *  - conflated fixed-interval trigger ↔ `Trigger.ProcessingTime` (or
  *    `AvailableNow` for a drain run, which is exactly the reference's
  *    one-shot mode);
  *  - NO watermark on the restructure path — late records are never
  *    dropped, they land in their (old) time bin, `unknown-time` if absent;
  *  - idempotent replay from a committed-batch marker: foreachBatch is
  *    at-least-once (a crash replays the last batch), and the bin writer
  *    APPENDS — without the marker every replayed record would land
  *    twice whenever dedup is off. The marker (last committed batchId,
  *    stored next to the checkpoint) makes replays of already-committed
  *    batches no-ops; the residual window is a crash BETWEEN the bin
  *    commit and the marker write, closed fully by `deduplication.enable`
  *    (replayed rows then dedup against the bin's existing copies).
  */
object StreamingRestructure {

  /** Start a streaming restructure of `source` (a streaming DataFrame).
    * `pathCol` is the compiled template expression over the source schema.
    */
  def start(
      spark: SparkSession, source: DataFrame, pathCol: Column,
      cfg: RestructureJobConfig, topic: String, checkpoint: String,
      trigger: Trigger = Trigger.AvailableNow()): StreamingQuery = {
    val dataSchema = source.schema
    source.writeStream
      .queryName(s"graft-restructure-$topic")
      .option("checkpointLocation", checkpoint)
      .outputMode("append")
      .trigger(trigger)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        processBatch(spark, cfg, topic, batch, dataSchema, pathCol, batchId,
          Some(checkpoint))
        ()
      }
      .start()
  }

  // committed-batch marker, scoped to the QUERY (the checkpoint location
  // defines batchId numbering); written via temp + overwrite-rename —
  // single-op through FileContext where the scheme supports it, checked
  // delete+rename elsewhere (see writeMarker)
  private def markerPath(checkpoint: String): HPath =
    new HPath(s"$checkpoint/graft-committed-batch")

  private[graft] def lastCommitted(spark: SparkSession, checkpoint: String): Long = {
    val p = markerPath(checkpoint)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(p)) -1L
    else try {
      val in = fs.open(p)
      try new String(in.readAllBytes(), "UTF-8").trim.toLong finally in.close()
    } catch { case _: Exception => -1L }
  }

  private def writeMarker(spark: SparkSession, checkpoint: String, batchId: Long): Unit = {
    val p = markerPath(checkpoint)
    val conf = spark.sparkContext.hadoopConfiguration
    val fs = p.getFileSystem(conf)
    val tmp = new HPath(p.getParent, s".${p.getName}.tmp")
    val out = fs.create(tmp, true)
    try out.write(batchId.toString.getBytes("UTF-8")) finally out.close()
    // Prefer FileContext's single-op overwriting rename: no
    // delete→rename crash window, and failures THROW instead of
    // returning false. Where the scheme has no AbstractFileSystem
    // binding, fall back to delete + rename with the boolean CHECKED —
    // a silently lost marker reopens the duplicate-append replay window
    // this marker exists to close (when dedup is off), so fail loudly.
    try {
      val fc = org.apache.hadoop.fs.FileContext.getFileContext(p.toUri, conf)
      fc.rename(tmp, p, org.apache.hadoop.fs.Options.Rename.OVERWRITE)
    } catch {
      case _: org.apache.hadoop.fs.UnsupportedFileSystemException =>
        if (fs.exists(p)) fs.delete(p, false)
        if (!fs.rename(tmp, p) && !fs.rename(tmp, p)) // one retry for transient store hiccups
          throw new java.io.IOException(
            s"failed to move committed-batch marker $tmp -> $p")
    }
  }

  /** One micro-batch: stamp provenance (batch id ↔ source file, row pos),
    * then write through the batch path's writer dispatch (JSON, dynamic
    * shape or static CSV; merge-with-existing, dedup, one file per bin,
    * sidecar-free). A batchId at or below the committed marker is a
    * foreachBatch replay of work already on disk — skipped.
    */
  private[graft] def processBatch(
      spark: SparkSession, cfg: RestructureJobConfig, topic: String,
      batch: DataFrame, dataSchema: StructType, pathCol: Column, batchId: Long,
      checkpoint: Option[String] = None): Restructure.WrittenBins = {
    if (checkpoint.exists(c => batchId <= lastCommitted(spark, c)))
      return Restructure.WrittenBins.empty
    val fs = new HPath(cfg.outputRoot).getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.setWriteChecksum(false)
    fs.setVerifyChecksum(false)
    val stamped = batch
      .withColumn(AvroRead.FileCol, lit(f"batch-$batchId%012d"))
      .withColumn(AvroRead.PosCol, monotonically_increasing_id())
    val written = Restructure.writeBins(spark, cfg, fs, topic, stamped, dataSchema, pathCol,
      sidecar = None).bins
    checkpoint.foreach(writeMarker(spark, _, batchId))
    written
  }
}
