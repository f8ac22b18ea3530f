package graft.jobs

import java.time.Instant

import org.apache.hadoop.fs.{Path => HPath}
import org.apache.spark.sql.{SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.paths.PathTemplate
import graft.sources.{AvroRead, TopicFiles}
import graft.time.TimeExtract

/** The cleaner job (§3.2 / §2.6 of SURVEY.md): delete source Avro files whose
  * records are verifiably present in the output.
  *
  *  - C1 eligibility: file older than `ageMs` AND the ledger also covers
  *    `to+1` (a later offset was processed — the newest file is never
  *    deleted, cleaner/SourceDataCleaner.kt:106-113).
  *  - C2 verification: re-derive every record's (bin path, time) and
  *    anti-join against the distinct time values of the target bins
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
    val tCfg = cfg.topicConfig(topic)
    val df = AvroRead.read(spark, files)
    val dataSchema = StructType(df.schema.fields.filterNot(f =>
      f.name == AvroRead.FileCol || f.name == AvroRead.PosCol))
    val timeCol = TimeExtract.timeColumn(dataSchema)
    val template = tCfg.pathTemplate.getOrElse(cfg.pathTemplate)
    val params = PathTemplate.fixedParams(dataSchema, timeCol, lit(topic),
      cfg.extension, cfg.timeBinFormat)
    val pathCol = PathTemplate.compile(template, params, Some(timeCol), Some(dataSchema))

    // persisted: read twice (distinct target paths + the anti-join count)
    val source = df.select(col(AvroRead.FileCol).as("__src"),
      pathCol.as("__path"), timeCol.as("__time"))
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
    val leaves = graft.model.Flatten.leafPaths(dataSchema).map(_._1)
    val timeField = chain.flatMap { case (n, conv) =>
      leaves.find(_.equalsIgnoreCase(n)).map(_ -> conv)
    }.headOption

    val outFs = new HPath(cfg.outputRoot).getFileSystem(spark.sparkContext.hadoopConfiguration)
    // cleaner.cache = target-side metadata work (reference: TimestampFileCache
    // loading, cleaner/TimestampFileCache.kt:39-68). The probe is
    // DISTRIBUTED, mirroring Restructure.mergeCommitBins: existence +
    // header reads run as one Spark job over the distinct bin paths, and
    // its result is read in one pass or, past cfg.mergeChunkBins targets,
    // consumed in chunks of cfg.mergeChunkBins — a
    // verification sweep over 10^7 existing bins never holds the full
    // path list on the driver. Missing-record counts are ADDITIVE across
    // chunks because chunks partition the bin space and every record
    // belongs to exactly one bin path.
    val confEntries = graft.sources.AvroRead.fsConfEntries(spark)
    val outputRoot = cfg.outputRoot
    val needHeader = !cfg.zip && cfg.format != "json"
    val probed = source.select(col("__path")).distinct().as[String].mapPartitions { it =>
      if (it.isEmpty) Iterator.empty
      else {
        val conf = new org.apache.hadoop.conf.Configuration()
        confEntries.foreach { case (k, v) => conf.set(k, v) }
        val pfs = new HPath(outputRoot).getFileSystem(conf)
        it.flatMap { p =>
          val full = new HPath(s"$outputRoot/$p")
          if (!pfs.exists(full)) None
          else if (!needHeader) Some((p, ""))
          else Restructure.readHeaderLine(pfs, full).map(h => (p, h))
          // unreadable target: dropped — its records count as missing, so
          // the source file is kept (same outcome as the old None branch)
        }
      }
    }

    // One chunk's stored (__path, __time) frame: the scan construction
    // (per-header single scans, input_file_name → bin path, zip unzip to
    // one temp dir) is Restructure.existingBinFrames — ONE definition for
    // both the merge and this verification. A zip bin that fails to
    // stream is simply absent: its records count as missing, so the
    // source file is kept. None = no readable target in this chunk.
    // `temps` receives the chunk's unzip directory; the caller deletes it
    // as soon as the chunk's count is drained (holding every chunk's
    // uncompressed bytes to the end would defeat the chunking).
    def targetTimesFor(chunk: Seq[(String, String)],
        temps: scala.collection.mutable.Buffer[HPath]): Option[org.apache.spark.sql.DataFrame] = {
      val (name, conv) = timeField.get
      val (frames, _) = Restructure.existingBinFrames(spark, outFs, cfg.outputRoot,
        chunk, cfg.format, None, cfg.zip, temps)
      if (frames.isEmpty) None
      else Some(frames.map { case (_, stored) =>
        val c =
          if (cfg.format == "json") graft.model.Flatten.leafColumn(name)
          else col(graft.model.Flatten.quote(name))
        stored.select(conv(c).as("__time"), col("__path"))
      }.reduce(_ unionByName _).distinct())
    }

    val withTime = source.filter(col("__time").isNotNull)
    def countMissing(missing: org.apache.spark.sql.DataFrame,
        into: scala.collection.mutable.Map[String, Long]): Unit = {
      // chunked fetch of the per-source-file verdicts (tiny agg rows)
      val it = missing.groupBy(col("__src")).count().toLocalIterator()
      while (it.hasNext) {
        val r = it.next()
        val k = r.getString(0)
        into.update(k, into.getOrElse(k, 0L) + r.getLong(1))
      }
    }

    val counts = scala.collection.mutable.Map.empty[String, Long]
    def countAgainst(rows: org.apache.spark.sql.DataFrame, chunk: Seq[(String, String)]): Unit = {
      // per-chunk temp cleanup: the chunk's count is fully drained before
      // the delete, and holding every chunk's uncompressed zip bytes to the
      // end would peak at the whole store's size
      val temps = scala.collection.mutable.ArrayBuffer.empty[HPath]
      try targetTimesFor(chunk, temps) match {
        case Some(t) => countMissing(rows.join(t, Seq("__path", "__time"), "left_anti"), counts)
        case None => countMissing(rows, counts)
      } finally temps.foreach(t => outFs.delete(t, true))
    }
    try {
      val chunkSize = math.max(1, cfg.mergeChunkBins)
      // one pass, as in Restructure.mergeCommitBins: at most chunkSize+1
      // probe rows tell the no-target, single-chunk and chunked cases apart
      lazy val head =
        probed.limit(math.min(chunkSize.toLong + 1, Int.MaxValue).toInt).collect().toSeq
      if (timeField.isEmpty || head.isEmpty) countMissing(withTime, counts)
      else if (head.size <= chunkSize) countAgainst(withTime, head)
      else {
        // chunk-consumption loop mirrors Restructure.mergeCommitBins
        // (same repartition→toLocalIterator→grouped discipline; only the
        // probe arity and the per-chunk action differ) — change both in
        // lockstep; the scanned-row→path mapping itself is shared
        // (existingBinFrames)
        import scala.jdk.CollectionConverters._
        val probedDf = probed.toDF("__p", "__header")
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        try {
          val nExisting = probedDf.count()
          val nParts = math.max(1, math.ceil(nExisting.toDouble / chunkSize).toInt)
          val chunks = probedDf.repartition(nParts, col("__p"))
            .as[(String, String)].toLocalIterator().asScala.grouped(chunkSize)
          for (chunk <- chunks) {
            val chunkPaths = spark.createDataset(chunk.map(_._1)).toDF("__path")
            countAgainst(withTime.join(broadcast(chunkPaths), Seq("__path"), "left_semi"),
              chunk.toSeq)
          }
          // records whose bin has no existing target at all: all missing
          countMissing(withTime.join(
            probedDf.select(col("__p").as("__path")), Seq("__path"), "left_anti"), counts)
        } finally probedDf.unpersist(false)
      }
    } finally source.unpersist(false)
    files.map(f => new HPath(f).getName).map(n => n -> counts.getOrElse(n, 0L)).toMap
  }
}
