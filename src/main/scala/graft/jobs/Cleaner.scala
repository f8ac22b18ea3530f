package graft.jobs

import java.time.Instant

import org.apache.hadoop.fs.{Path => HPath}
import org.apache.spark.sql.{Encoders, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.sources.{AvroRead, TopicFiles}

/** The cleaner job (§3.2 / §2.6 of SURVEY.md): delete source Avro files whose
  * records are verifiably present in the output.
  *
  *  - C1 eligibility: file older than `ageMs` AND the ledger also covers
  *    `to+1` (a later offset was processed — the newest file is never
  *    deleted, cleaner/SourceDataCleaner.kt:106-113).
  *  - C2 verification: re-derive every record's (bin path, time) by the
  *    writer's own route ([[Restructure.route]]: template, plugins, bucket)
  *    and anti-join against the distinct time values of the bin's whole
  *    attempt family — `bin`, `bin_1`, … up to the first absent slot, as
  *    the reference's attempt loop over header mismatches
  *    (timestamp-set containment, cleaner/TimestampExtractionCheck.kt) —
  *    one distributed join per topic instead of per-record file reads.
  *  - C3 rollback: a file that fails verification has its range removed
  *    from the ledger so the next restructure run re-extracts it.
  */
object Cleaner {

  final case class CleanResult(deleted: Seq[String], rolledBack: Seq[String],
      failedTopics: Seq[(String, String)] = Nil)

  def run(spark: SparkSession, cfg: RestructureJobConfig, ageMs: Long = 7L * 24 * 3600 * 1000,
      // cleaner.maxFilesPerTopic (SourceDataCleaner.kt:39-40): cap the
      // files verified+deleted per topic per iteration
      maxFilesPerTopic: Option[Int] = None): CleanResult = {
    val fs = new HPath(cfg.outputRoot).getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.setWriteChecksum(false)
    fs.setVerifyChecksum(false)
    val store = cfg.ledgerStore()
    val ledger = store match {
      case Some(s) =>
        s.get(cfg.ledger).map(graft.ledger.OffsetRangeSet.fromJson)
          .getOrElse(new graft.ledger.OffsetRangeSet)
      case None => Restructure.loadLedger(fs, cfg.ledger)
    }
    Restructure.sweepStaleUnzipTemps(fs, cfg.outputRoot, cfg.staleTempAgeMs)
    val now = System.currentTimeMillis()

    val topics = TopicFiles.listTopicsAll(spark, cfg.inputRoot +: cfg.extraInputRoots)
    val fileLimit = maxFilesPerTopic.getOrElse(Int.MaxValue)
    // per-topic failure isolation (reference SourceDataCleaner.kt:67-69
    // warn-and-continue): one unreadable topic must not block deletion
    // across the rest of the store. A failed topic's files stay put and
    // re-verify next iteration.
    def cleanTopic(topic: String, files: Seq[org.apache.hadoop.fs.FileStatus]): TopicOutcome = {
      val tCfg = cfg.topicConfig(topic)
      if (tCfg.exclude || tCfg.excludeFromDelete) TopicOutcome(Nil, Nil, None)
      else try {
        val deleted = Seq.newBuilder[String]
        val rolledBack = Seq.newBuilder[String]
        val eligible = files
          .map(st => (st, TopicFiles.parseFilename(st.getPath.getName)))
          .collect { case (st, Some(r)) => (st, r) }
          .filter { case (st, r) =>
            st.getLen > 0 &&
            (now - st.getModificationTime) >= ageMs &&
            r.to.isDefined && // open-ended file = newest slice, keep
            ledger.contains(r.topic, r.partition, r.from, r.to.get + 1,
              Instant.ofEpochMilli(st.getModificationTime))
          }
          .take(fileLimit)
        if (eligible.nonEmpty) {
          val missingByFile =
            verifyTopic(spark, cfg, topic, eligible.map(_._1.getPath.toString))
          eligible.foreach { case (st, r) =>
            val name = st.getPath.getName
            if (missingByFile.getOrElse(name, 0L) == 0L) {
              // resolve the FS per file: roots may live on different stores
              val removed = st.getPath
                .getFileSystem(spark.sparkContext.hadoopConfiguration)
                .delete(st.getPath, false)
              // CHECK the boolean: a false return would report a surviving
              // file as deleted. The file stays eligible and re-verifies
              // next run, so a warn is the right severity.
              if (removed) deleted += st.getPath.toString
              else Console.err.println(
                s"[graft] cleaner could not delete verified file ${st.getPath} — will retry next run")
            } else {
              // OffsetRangeSet synchronizes every access, so topics roll
              // back concurrently
              ledger.remove(r.topic, r.partition, r.from, r.to.get)
              rolledBack += st.getPath.toString
            }
          }
        }
        TopicOutcome(deleted.result(), rolledBack.result(), None)
      } catch {
        case scala.util.control.NonFatal(e) =>
          Console.err.println(
            s"[graft] cleaner failed on topic $topic: ${e.getClass.getSimpleName}: ${e.getMessage}")
          TopicOutcome(Nil, Nil, Some(topic -> s"${e.getClass.getSimpleName}: ${e.getMessage}"))
      }
    }
    // topics verify in parallel (cfg.topicParallelism, as in Restructure.run);
    // outcomes come back in sorted topic order, so the result is the one a
    // serial run builds
    val outcomes = Restructure.perTopic(cfg.topicParallelism, topics.toSeq.sortBy(_._1)) {
      case (t, f) => cleanTopic(t, f)
    }
    store match {
      case Some(s) => try s.set(cfg.ledger, ledger.toJson) finally s.close()
      case None => Restructure.saveLedger(fs, cfg.ledger, ledger)
    }
    CleanResult(outcomes.flatMap(_.deleted), outcomes.flatMap(_.rolledBack),
      outcomes.flatMap(_.failure))
  }

  private final case class TopicOutcome(deleted: Seq[String], rolledBack: Seq[String],
      failure: Option[(String, String)])

  /** Count of not-yet-extracted records per source file name (0 = safe to
    * delete). Records without a time value count as extracted (A4 rule).
    */
  private def verifyTopic(
      spark: SparkSession, cfg: RestructureJobConfig, topic: String,
      files: Seq[String]): Map[String, Long] = {
    val route = Restructure.route(cfg, topic, AvroRead.read(spark, files))
    // persisted: read twice (distinct target paths + the anti-join count)
    val source = route.frame.select(col(AvroRead.FileCol).as("__src"),
      route.path.as("__path"), route.time.as("__time"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)

    import spark.implicits._
    // The stored time field and its render-back-to-epoch-seconds converter,
    // in the SAME priority order as TimeExtract's chain — so the value
    // compared against __time is the one __time was derived from.
    val chain: Seq[(String, org.apache.spark.sql.Column => org.apache.spark.sql.Column)] = Seq(
      "value.time" -> (c => c.cast(DoubleType)),
      "key.timeStart" -> (c => c.cast(DoubleType)),
      "key.start" -> (c => c.cast(DoubleType) / 1000.0), // stored millis
      "value.dateTime" -> (c => to_timestamp(regexp_replace(c, "Z$", "")).cast(DoubleType)),
      "value.date" -> (c => to_date(c).cast(TimestampType).cast(DoubleType)),
      "value.timeReceived" -> (c => c.cast(DoubleType)),
      "value.timeCompleted" -> (c => c.cast(DoubleType)))
    val leaves = graft.model.Flatten.leafPaths(route.dataSchema).map(_._1)
    val timeField = chain.flatMap { case (n, conv) =>
      leaves.find(_.equalsIgnoreCase(n)).map(_ -> conv)
    }.headOption

    val outFs = new HPath(cfg.outputRoot).getFileSystem(spark.sparkContext.hadoopConfiguration)
    // cleaner.cache = target-side metadata work (reference: TimestampFileCache
    // loading, cleaner/TimestampFileCache.kt:39-68): one distributed probe
    // of each record bin's attempt family (the writer's probeBin over
    // `bin`, `bin_1`, …), consumed by the merge's chunk loop. Missing-record
    // counts are ADDITIVE across chunks because chunks partition the bin
    // space and every record belongs to exactly one bin.
    val outputRoot = cfg.outputRoot
    val ext = cfg.extension
    val wantHeader = !cfg.zip
    val format = cfg.format
    val probed = Restructure.probeBins(spark, outputRoot, source) { (pfs, p) =>
      val family = Restructure.probeAttempts(pfs, outputRoot, ext, p, wantHeader, format)
      if (family.isEmpty) None else Some((p, family))
    }

    // One chunk's stored (__path, __time) frame, `__path` being the base
    // bin of each attempt file: the scan construction is
    // Restructure.existingBinFrames, as in the merge. An unreadable
    // target (probe state 2) or a zip bin that fails to stream is simply
    // absent: its records count as missing, so the source file is kept.
    // `temps` receives the chunk's unzip directory; the caller deletes it
    // as soon as the chunk's count is drained (holding every chunk's
    // uncompressed bytes to the end would defeat the chunking).
    def targetTimesFor(chunk: Seq[(String, Seq[(String, Int, String)])],
        temps: scala.collection.mutable.Buffer[HPath]): Option[org.apache.spark.sql.DataFrame] = {
      val (name, conv) = timeField.get
      val baseOf = chunk.flatMap { case (base, family) => family.map(_._1 -> base) }.toMap
      val readable = chunk.flatMap(_._2).collect { case (p, s, h) if s != 2 => (p, h) }
      val (frames, _) = Restructure.existingBinFrames(spark, outFs, cfg.outputRoot,
        readable, cfg.format, None, cfg.zip, temps, baseOf)
      if (frames.isEmpty) None
      else Some(frames.map { case (_, stored) =>
        val c =
          if (cfg.format == "json") graft.model.Flatten.leafColumn(name)
          else col(graft.model.Flatten.quote(name))
        stored.select(conv(c).as("__time"), col("__path"))
      }.reduce(_ unionByName _).distinct())
    }

    val withTime = source.filter(col("__time").isNotNull)
    val counts = scala.collection.mutable.Map.empty[String, Long]
    def countMissing(missing: org.apache.spark.sql.DataFrame): Unit =
      // the per-source-file verdicts, summed within each partition and
      // fetched in one action (at most one row per partition and file).
      // A groupBy would end the plan in an exchange, and AQE skips the
      // result job of an empty exchange, so the job count would follow
      // the verdicts
      missing.select(col("__src")).as(Encoders.STRING)
        .mapPartitions(_.foldLeft(Map.empty[String, Long])((m, k) =>
          m.updated(k, m.getOrElse(k, 0L) + 1L)).iterator)(
          Encoders.tuple(Encoders.STRING, Encoders.scalaLong))
        .collect().foreach { case (k, n) => counts.update(k, counts.getOrElse(k, 0L) + n) }
    try {
      if (timeField.isEmpty) countMissing(withTime)
      else Restructure.inBinChunks(spark, withTime, probed, None, cfg.mergeChunkBins) {
        (rows, chunk) =>
          val temps = scala.collection.mutable.ArrayBuffer.empty[HPath]
          try targetTimesFor(chunk, temps) match {
            case Some(t) => countMissing(rows.join(t, Seq("__path", "__time"), "left_anti"))
            case None => countMissing(rows)
          } finally temps.foreach(t => outFs.delete(t, true))
      }
    } finally source.unpersist(false)
    files.map(f => new HPath(f).getName).map(n => n -> counts.getOrElse(n, 0L)).toMap
  }
}
