package graft.jobs

import java.time.Instant

import org.apache.hadoop.fs.{FileSystem, Path => HPath}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.ledger.OffsetRangeSet
import graft.model.Flatten
import graft.paths.PathTemplate
import graft.sources.{AvroRead, TopicFiles}
import graft.time.TimeExtract

/** The restructure job (§3.1 of SURVEY.md), Spark-shaped:
  *
  * driver: topic discovery → ledger filter → work list
  * cluster: avro scan → derive(time, path) → flatten → [dedup] →
  *          repartition(path) → one exactly-named file per bin
  *          (+ per-directory schema sidecars, written by the same tasks)
  * driver: ledger commit
  *
  * Output parity with the reference: flattened dot-named CSV headers,
  * JVM-rendered values, unpadded base64, `""` nulls, minimal quoting,
  * hourly UTC bins, `unknown-*` fallbacks, per-directory Avro schema
  * sidecar, keep-last dedup, offset-interval ledger for incremental
  * exactly-once re-runs (append-to-bin = merge-rewrite of existing file).
  */
object Restructure {

  /** Distributed bin-write report: bin COUNT plus a bounded, sorted path
    * sample (`maxReportedPaths` entries). The full per-bin path list was
    * the last O(bins) driver materialization — pure reporting, never
    * consumed by job logic — and a 10^7-bin run would hold ~1 GB of path
    * strings on the driver just for it. Runs writing fewer bins than the
    * cap still report every path (the sample IS the full sorted list).
    */
  final case class WrittenBins(count: Long, sample: Seq[String]) {
    def merge(o: WrittenBins, cap: Int): WrittenBins =
      WrittenBins(count + o.count, (sample ++ o.sample).sorted.take(cap))
    def isEmpty: Boolean = count == 0L
  }
  object WrittenBins { val empty: WrittenBins = WrittenBins(0L, Nil) }

  final case class TopicResult(topic: String, files: Seq[String], records: Long, bins: WrittenBins)
  final case class RunResult(processedTopics: Seq[TopicResult], ledger: OffsetRangeSet,
      failedTopics: Seq[(String, String)] = Nil)

  def run(spark: SparkSession, cfg: RestructureJobConfig,
      listing: Option[Map[String, Seq[org.apache.hadoop.fs.FileStatus]]] = None): RunResult = {
    val fs = new HPath(cfg.outputRoot).getFileSystem(spark.sparkContext.hadoopConfiguration)
    // local-FS checksum sidecars (.crc) are not part of the output contract
    fs.setWriteChecksum(false)
    fs.setVerifyChecksum(false)
    // ledger/lock backend: the Redis-protocol store when configured
    // (reference `redis:` deployments share state with an existing
    // install), the filesystem otherwise
    val store = cfg.ledgerStore()
    val ledger = store match {
      case Some(s) =>
        s.get(cfg.ledger).map(OffsetRangeSet.fromJson).getOrElse(new OffsetRangeSet)
      case None => loadLedger(fs, cfg.ledger)
    }
    migrateLegacyOffsets(fs, cfg, ledger, store)
    sweepStaleUnzipTemps(fs, cfg.outputRoot, cfg.staleTempAgeMs)
    val topics = listing.getOrElse(
      TopicFiles.listTopicsAll(spark, cfg.inputRoot +: cfg.extraInputRoots))
    val now = System.currentTimeMillis()

    // incremental accounting: the ledger is persisted after EVERY topic
    // commit (reference flushes offsets per write transaction,
    // OffsetRedisPersistence.kt:69-91), so a crash mid-run cannot re-extract
    // already-committed topics; the end-of-run flush remains as a safety net
    // multi-instance admission control (reference: per-topic Redis SET NX
    // lock, RedisRemoteLockManager.kt:18-44): a topic locked by another
    // replica is skipped this iteration; the ledger stays the correctness
    // mechanism either way
    val locks: Option[RemoteLocks] = store match {
      case Some(s) => Some(new StoreLocks(s, cfg.redisLockPrefix))
      case None => cfg.lockDir.map(d => new LockManager(fs, d))
    }
    // dedicated seconds-TTL manager for the flush lock (the hold is
    // millisecond-scale; a 24 h TTL would leave a crashed holder's peers
    // flushing merge-only-unlocked for a day before the stale-break)
    val flushLocks: Option[RemoteLocks] = flushLockManager(store, cfg, fs)

    val flushLock = new Object
    def flushLedger(): Unit =
      flushLock.synchronized {
        // Cross-topic lost-update guard (multi-instance only): per-topic
        // locks let two replicas processing DIFFERENT topics flush
        // concurrently, and a bare whole-document save would clobber the
        // peer's just-committed intervals (its files re-extract next run —
        // duplicate rows when dedup is off). Re-merge the persisted ledger
        // into ours before saving so every flush writes a superset of what
        // it read, and serialize the read-merge-write across replicas with
        // a dedicated ledger lock (a name containing '!' cannot collide
        // with a Kafka topic lock — topic names are [a-zA-Z0-9._-]). The
        // MERGE is the correctness mechanism; the lock only closes the
        // read-to-write window between peers, so if a peer starves us we
        // still merge-and-save — at worst the races of the unlocked scheme,
        // never worse.
        def mergeAndSave(): Unit = {
          store match {
            case Some(s) =>
              s.get(cfg.ledger).map(OffsetRangeSet.fromJson).foreach(ledger.mergeFrom)
              s.set(cfg.ledger, ledger.toJson)
            case None =>
              ledger.mergeFrom(loadLedgerAwaitVisible(fs, cfg.ledger))
              saveLedger(fs, cfg.ledger, ledger)
          }
        }
        flushLocks match {
          case Some(lm) =>
            var attempts = 0
            var done = lm.withLock(LedgerFlushLockName)(mergeAndSave()).isDefined
            while (!done && attempts < 40) {
              attempts += 1
              Thread.sleep(25)
              done = lm.withLock(LedgerFlushLockName)(mergeAndSave()).isDefined
            }
            if (!done) mergeAndSave()
          case None =>
            store.fold(saveLedger(fs, cfg.ledger, ledger))(_.set(cfg.ledger, ledger.toJson))
        }
      }

    // per-topic failure isolation (reference RadarKafkaRestructure.kt:100-103
    // "Failed to map topic", warn + continue): one corrupt file or bad
    // schema must not abort every other topic's extraction. The ledger only
    // commits per successful topic, so the failed topic re-extracts next run.
    val failedTopics = new java.util.concurrent.ConcurrentLinkedQueue[(String, String)]()
    def processOne(topic: String, files: Seq[org.apache.hadoop.fs.FileStatus]): Option[TopicResult] =
      try locks match {
        case Some(lm) => lm.withLock(topic)(processUnlocked(topic, files)).flatten
        case None => processUnlocked(topic, files)
      } catch {
        case scala.util.control.NonFatal(e) =>
          Console.err.println(
            s"[graft] failed to process topic $topic: ${e.getClass.getSimpleName}: ${e.getMessage}")
          failedTopics.add(topic -> s"${e.getClass.getSimpleName}: ${e.getMessage}")
          None
      }

    def processUnlocked(topic: String, files: Seq[org.apache.hadoop.fs.FileStatus]): Option[TopicResult] = {
      val tCfg = cfg.topicConfig(topic)
      if (tCfg.exclude) None
      else {
        // Ledger freshness under the topic lock (multi-instance only):
        // another replica may have committed this topic between OUR ledger
        // load at run start and this lock acquisition — the lock orders
        // processing but not the snapshot, and filtering candidates
        // against the stale snapshot would re-extract the other replica's
        // files (the locks are advisory; THIS re-read is what makes the
        // ledger the correctness mechanism across instances). One
        // metadata-sized read per topic batch, paid whenever locks are
        // configured — which includes every store-backed deployment (the
        // reference's Redis deployments are inherently multi-replica, so a
        // peer may exist even when this process believes it is alone);
        // only lockless filesystem runs skip it.
        if (locks.nonEmpty) store match {
          case Some(s) =>
            s.get(cfg.ledger).map(OffsetRangeSet.fromJson).foreach(ledger.mergeFrom)
          case None => ledger.mergeFrom(loadLedgerAwaitVisible(fs, cfg.ledger))
        }
        // S7/P10/P13: unseen ∧ old-enough ∧ limit
        val candidates = files
          .map(st => (st, TopicFiles.parseFilename(st.getPath.getName)))
          .collect { case (st, Some(r)) => (st, r) }
          .filter { case (st, r) =>
            st.getLen > 0 &&
            (now - st.getModificationTime) >= cfg.minimumFileAgeMs &&
            !ledger.contains(r.topic, r.partition, r.from,
              r.to.getOrElse(r.from), Instant.ofEpochMilli(st.getModificationTime))
          }
        val limited = cfg.maxFilesPerTopic.fold(candidates)(candidates.take)
        if (limited.isEmpty) None
        else {
          // P10 record granularity: a partially-covered file (cleaner
          // rollback, reference-ledger migration, crash between topic
          // commits) re-extracts only its uncovered spans — covered
          // positions are skipped inside the Avro scan, whole blocks
          // without decoding
          val skip: Map[String, Seq[(Long, Long)]] = limited.flatMap { case (st, r) =>
            val cov = ledger.covered(r.topic, r.partition, r.from,
              r.to.getOrElse(Long.MaxValue - 1),
              Instant.ofEpochMilli(st.getModificationTime))
            if (cov.isEmpty) None
            else Some(st.getPath.getName ->
              cov.map { case (f, t) => (f - r.from, t - r.from) })
          }.toMap
          val r = processTopic(spark, cfg, fs, topic,
            limited.map(_._1.getPath.toString), ledger, skip)
          flushLedger()
          Some(r)
        }
      }
    }

    // per-topic fan-out (reference worker.numThreads): topics are
    // independent pipelines sharing the session's scheduler; the ledger is
    // synchronized internally
    val results = perTopic(cfg.topicParallelism, topics.toSeq.sortBy(_._1)) {
      case (t, f) => processOne(t, f)
    }.flatten
    flushLedger()
    store.foreach(_.close())
    import scala.jdk.CollectionConverters._
    RunResult(results, ledger, failedTopics.asScala.toSeq)
  }

  /** `f` over `topics` on a pool of `parallelism` threads (inline when
    * `parallelism <= 1`), results in input order. `f` isolates its own
    * failures.
    */
  private[jobs] def perTopic[A, B](parallelism: Int, topics: Seq[A])(f: A => B): Seq[B] =
    if (parallelism <= 1) topics.map(f)
    else {
      import scala.concurrent.{Await, ExecutionContext, Future}
      import scala.concurrent.duration.Duration
      val pool = java.util.concurrent.Executors.newFixedThreadPool(parallelism)
      implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
      try Await.result(Future.sequence(topics.map(t => Future(f(t)))), Duration.Inf)
      finally pool.shutdown()
    }

  private def processTopic(
      spark: SparkSession, cfg: RestructureJobConfig, fs: FileSystem,
      topic: String, files: Seq[String], ledger: OffsetRangeSet,
      skip: Map[String, Seq[(Long, Long)]] = Map.empty): TopicResult = {
    val avroSchema = AvroRead.topicReaderSchema(spark, files)
    val decoded = AvroRead.read(spark, files, Some(avroSchema), skip)
    // persist the decoded batch: a static topic's write reads it twice (the
    // target-bin probe, the bin write itself) and Avro decode is the
    // expensive step; the batch is bounded by maxFilesPerTopic. A dynamic
    // CSV topic persists its fingerprinted frame instead (every later read
    // is served from that cache), so caching the batch too would only
    // double its memory.
    val df =
      if (cfg.format != "json" && hasDynamicLeaves(dataSchemaOf(decoded))) decoded
      else decoded.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try processTopicImpl(spark, cfg, fs, topic, files, ledger, avroSchema, df, skip)
    finally df.unpersist(false)
  }

  private def dataSchemaOf(df: DataFrame): StructType =
    StructType(df.schema.fields.filterNot(f =>
      f.name == AvroRead.FileCol || f.name == AvroRead.PosCol))

  /** Map keys and array indices become CSV columns per record (§7.4-1). */
  private def hasDynamicLeaves(dataSchema: StructType): Boolean =
    Flatten.leafPaths(dataSchema).exists {
      case (_, _: MapType) | (_, _: ArrayType) => true
      case _ => false
    }

  private def processTopicImpl(
      spark: SparkSession, cfg: RestructureJobConfig, fs: FileSystem,
      topic: String, files: Seq[String], ledger: OffsetRangeSet,
      avroSchema: org.apache.avro.Schema, df: DataFrame,
      skip: Map[String, Seq[(Long, Long)]]): TopicResult = {
    val routed = route(cfg, topic, df)
    // K4 schema sidecar rides the write tasks (BinWriter first-touch per
    // output directory, create-if-absent), along with the stale dot-temp
    // sweep — no driver-side pass over a collected bin-directory list
    val written = writeBins(spark, cfg, fs, topic, routed.frame, routed.dataSchema, routed.path,
      Some(avroSchema.toString(true).getBytes("UTF-8")))

    // ledger commit: closed ranges are sized by their offset span; an
    // open-ended file (no end offset in the name) is sized by the rows the
    // commit tasks took from it — counted as they write, so no extra scan.
    // S9: an endOffset object tag closes an open range FIRST
    val tagSource = cfg.tagOffsetSource(fs.getConf)
    val parsed = files
      .flatMap { f =>
        val n = new HPath(f).getName
        TopicFiles.parseFilename(n).map { r =>
          val closed =
            if (r.to.isEmpty)
              tagSource.flatMap(_.endOffset(f)).fold(r)(e => r.copy(to = Some(e)))
            else r
          n -> closed
        }
      }
    val counts = written.fileRows
    val processedAt = Instant.now()
    // skipped positions still count toward a file's total record count (the
    // open-ended end offset), but not toward records extracted this run
    val skippedPerFile: Map[String, Long] =
      skip.map { case (n, rs) => n -> rs.map { case (s, e) => e - s + 1 }.sum }
    parsed.foreach { case (name, r) =>
      val to = r.to.getOrElse {
        val total = counts.getOrElse(name, 0L) + skippedPerFile.getOrElse(name, 0L)
        r.from + math.max(total, 1L) - 1
      }
      ledger.add(r.topic, r.partition, r.from, to, processedAt)
    }
    val records = parsed.map { case (name, r) =>
      val sk = skippedPerFile.getOrElse(name, 0L)
      r.to.map(t => t - r.from + 1 - sk).getOrElse(counts.getOrElse(name, 1L - math.min(sk, 1L)))
    }.sum
    TopicResult(topic, files, records, written.bins)
  }

  /** Where a topic's records go. `frame` is the decoded frame plus the
    * path plugins' enrichment columns, `dataSchema` its record columns,
    * `time` the record time in epoch seconds (null when absent) and `path`
    * the bin path under the output root.
    */
  private[jobs] final case class Route(frame: DataFrame, dataSchema: StructType,
      time: Column, path: Column)

  /** The one bin-path derivation, shared by the writer and the cleaner:
    * the topic's template (else the job's) over the fixed parameters and
    * the plugins, prefixed by the G8 bucket template when one is set. The
    * plugin enrichment (broadcast-joined dimension columns) happens once
    * per batch; the writers project by `dataSchema`, so enrichment columns
    * never reach the written files.
    */
  private[jobs] def route(cfg: RestructureJobConfig, topic: String, decoded: DataFrame): Route = {
    val dataSchema = dataSchemaOf(decoded)
    val time = TimeExtract.timeColumn(dataSchema)
    val params = PathTemplate.fixedParams(dataSchema, time, lit(topic),
      cfg.extension, cfg.timeBinFormat)
    def compile(template: String): Column =
      PathTemplate.compile(template, params, Some(time), Some(dataSchema), cfg.pathPlugins)
    val base = compile(cfg.topicConfig(topic).pathTemplate.getOrElse(cfg.pathTemplate))
    val path = cfg.bucketTemplate.fold(base)(bt =>
      concat(bucketWithFallback(cfg, compile(bt)), lit("/"), base))
    Route(cfg.pathPlugins.foldLeft(decoded)((d, p) => p.enrich(d)), dataSchema, time, path)
  }

  /** The one writer dispatch: JSON bins, dynamic-shape CSV bins (map keys
    * and array indices as columns, shapes split into attempt files) or
    * static CSV bins. `df` carries the data columns, FileCol and PosCol;
    * `path` is each row's bin path.
    */
  private[jobs] def writeBins(
      spark: SparkSession, cfg: RestructureJobConfig, fs: FileSystem, topic: String,
      df: DataFrame, dataSchema: StructType, path: Column,
      sidecar: Option[Array[Byte]]): Committed =
    if (cfg.format == "json") jsonBins(spark, cfg, fs, topic, df, dataSchema, path, sidecar)
    else if (hasDynamicLeaves(dataSchema))
      dynamicCsvBins(spark, cfg, fs, topic, df, dataSchema, path, sidecar)
    else csvBins(spark, cfg, fs, topic, df, dataSchema, path, sidecar)

  /** Flattened CSV output projection: dot-named leaves in schema order,
    * binary → unpadded base64, NullType → string, excludeFields dropped,
    * everything cast to its CSV string form (so merge-with-existing unions
    * are type-aligned).
    */
  private def csvColumns(dataSchema: StructType, exclude: Set[String]): Seq[Column] =
    Flatten.leafPaths(dataSchema)
      .filterNot { case (n, _) => exclude(n) }
      .map { case (n, dt) =>
        val c = Flatten.leafColumn(n)
        val rendered = dt match {
          case BinaryType => regexp_replace(base64(c), "=+$", "") // P5 unpadded
          case NullType => lit(null).cast(StringType)
          case _ => c.cast(StringType) // JVM toString parity incl. doubles
        }
        rendered.as(n)
      }

  private def csvBins(
      spark: SparkSession, cfg: RestructureJobConfig, fs: FileSystem, topic: String,
      df: DataFrame, dataSchema: StructType, pathCol: Column,
      sidecar: Option[Array[Byte]]): Committed = {
    val outCols = csvColumns(dataSchema, cfg.allExcludeFields(topic))
    val prepared = df.select(outCols ++ Seq(
      pathCol.as("__path"), col(AvroRead.FileCol), col(AvroRead.PosCol)): _*)
    mergeCommitBins(spark, cfg, fs, prepared, "csv", None, topic, sidecar,
      new ByNameLayout(cfg, topic, "csv"))
  }

  /** One commit's report: its bins, and the rows it took from each source
    * file (FileCol → rows, counted before dedup; rows re-read from existing
    * bins carry no source file and are not counted). Open-ended source
    * files are sized by it in the ledger.
    */
  private[jobs] final case class Committed(bins: WrittenBins, fileRows: Map[String, Long]) {
    def merge(o: Committed, cap: Int): Committed =
      Committed(bins.merge(o.bins, cap), addCounts(fileRows, o.fileRows))
  }
  private[jobs] object Committed { val empty: Committed = Committed(WrittenBins.empty, Map.empty) }

  private def addCounts(a: Map[String, Long], b: IterableOnce[(String, Long)]): Map[String, Long] =
    b.iterator.foldLeft(a) { case (m, (k, n)) => m.updated(k, m.getOrElse(k, 0L) + n) }

  /** What [[commitBins]] writes: `rows` carry `__path`, FileCol and PosCol
    * plus whatever `group`, `key` and `line` read. Within a bin, rows sort
    * by (group, file, position); a bin's header is `headers(group)` of its
    * first row (a header of None: headerless JSON bins). A `group` of None
    * is group 0 for every row.
    */
  private[jobs] final case class CommitInput(rows: DataFrame, group: Option[Column], key: Column,
      line: Column, headers: IndexedSeq[Option[String]])

  /** How a commit's rows become bin lines. */
  private[jobs] trait BinLayout {
    /** A merge chunk's new rows joined by the rows of its existing bins,
      * given as (header line, frame) pairs by [[existingBinFrames]].
      */
    def attach(fresh: DataFrame, existing: Seq[(String, DataFrame)]): DataFrame
    def render(merged: DataFrame): CommitInput
  }

  /** Static CSV and JSON bins: rows carry data columns, existing bins join
    * by column name, and a commit renders every bin with the union of its
    * columns.
    */
  private final class ByNameLayout(cfg: RestructureJobConfig, topic: String, format: String)
      extends BinLayout {
    def attach(fresh: DataFrame, existing: Seq[(String, DataFrame)]): DataFrame =
      attachByName(fresh, existing)
    def render(merged: DataFrame): CommitInput = {
      val names = merged.columns.toSeq
        .filterNot(Seq("__path", AvroRead.FileCol, AvroRead.PosCol).contains)
      val (key, line) = keyAndLine(cfg, topic, format, names, names.map(n => col(s"`$n`")))
      CommitInput(merged, None, key, line,
        Vector(if (format == "json") None else Some(names.map(csvQuote).mkString(","))))
    }
  }

  /** Dynamic-shape CSV bins: rows arrive rendered per shape group
    * (`__grp`, `__key`, `__line`; `names(g)` are group g's columns). An
    * existing bin holds its group's header — that is how its attempt slot
    * was chosen — so its rows are rendered into the group's layout by
    * column position.
    */
  private final class ShapeGroupLayout(cfg: RestructureJobConfig, topic: String,
      names: IndexedSeq[Seq[String]]) extends BinLayout {
    private val headers = names.map(_.map(csvQuote).mkString(","))
    // equal headers render identically: the lowest ordinal stands for all
    private val groupOfHeader = headers.zipWithIndex.reverse.toMap
    def attach(fresh: DataFrame, existing: Seq[(String, DataFrame)]): DataFrame =
      existing.foldLeft(fresh) { case (acc, (header, stored)) =>
        val g = groupOfHeader.getOrElse(header, throw new IllegalStateException(
          s"an existing bin of topic $topic changed its header during the run; " +
            "its attempt slot no longer matches any shape group of this batch"))
        val n = stored.columns.length - 1 // the bin reader appends `__path`
        require(n == names(g).length,
          s"existing bin header parses to $n columns, its shape group has ${names(g).length}")
        val cols = (0 until n).map(i => s"__c$i")
        val (key, line) = keyAndLine(cfg, topic, "csv", names(g), cols.map(col))
        val old = stored.toDF(cols :+ "__path": _*).select(col("__path"),
          lit(g).as("__grp"),
          lit("").as(AvroRead.FileCol), // sorts before any real file
          monotonically_increasing_id().as(AvroRead.PosCol),
          key.as("__key"), line.as("__line"))
        acc.unionByName(old)
      }
    def render(merged: DataFrame): CommitInput =
      CommitInput(merged, Some(col("__grp")), col("__key"), col("__line"), headers.map(Some(_)))
  }

  /** K2 append-to-existing: union the current contents of every bin this
    * batch touches (existing rows sort before any new file and participate
    * in dedup, FileCache.kt:147-179). K9: an unreadable target (corrupt
    * gzip/zip) is quarantined as `<name>.corrupted[-i]` and the bin starts
    * fresh (FileCache.kt:205-235).
    *
    * Merge PLANNING is distributed AND its consumption CHUNKED: existence +
    * readability + header probing runs as one Spark job over the distinct
    * bin paths (one FS metadata call per bin rides the executors, not a
    * driver thread pool), consumed by [[inBinChunks]] in chunks of
    * `cfg.mergeChunkBins` paths — each chunk's header-group readers are
    * planned and COMMITTED before the next chunk is fetched, so a re-run
    * touching 10^7 pre-existing bins never holds more than one chunk of
    * path strings (plus one probe shuffle partition) on the driver; a
    * chunk without existing bins is a cold commit. Per-chunk commits are
    * safe because chunks PARTITION the bin space: every bin's rows
    * (existing + new) land wholly in exactly one commit, the writer's
    * dedup is per bin, and the ledger marks source files only after the
    * whole topic batch succeeds — a crash mid-chunks re-runs the batch
    * idempotently under the reference's append contract (existing rows
    * participate in dedup).
    *
    * `jsonSchema` is Some(nested schema) for JSON bins (read typed, no
    * inference); None for CSV bins (read as strings by each file's header).
    * `layout` turns new and existing rows into bin lines. `probedBins`, when
    * given, is the [[probeBin]] result for every existing target the rows
    * touch, taken by the caller; the probe job is then skipped.
    *
    * Column-union nuance ([[ByNameLayout]]): a commit renders every bin with
    * the UNION of its frame's columns (new schema + all merged headers in
    * that commit). Headers are uniform in the static path (one schema per
    * topic batch), so chunked and single commits agree. If existing bins
    * carry DRIFTED extra columns, a chunked run unions per chunk rather
    * than across the whole batch — each bin still keeps its own columns
    * plus the batch schema, which is the semantically meaningful set. The
    * dynamic path renders each shape group with its own columns
    * ([[ShapeGroupLayout]]), so its bins never union.
    */
  private[jobs] def mergeCommitBins(
      spark: SparkSession, cfg: RestructureJobConfig, fs: FileSystem,
      prepared: DataFrame, format: String, jsonSchema: Option[StructType],
      topic: String, sidecar: Option[Array[Byte]], layout: BinLayout,
      probedBins: Option[Seq[(String, Int, String)]] = None): Committed = {
    import spark.implicits._
    val outputRoot = cfg.outputRoot
    val wantHeader = !cfg.zip
    val fmt = format
    val probed = probeBins(spark, outputRoot, prepared)(probeBin(_, outputRoot, _, wantHeader, fmt))
    var written = Committed.empty
    inBinChunks(spark, prepared, probed, probedBins, cfg.mergeChunkBins) { (rows, chunk) =>
      val temps = scala.collection.mutable.ArrayBuffer.empty[HPath]
      val committed =
        try commitBins(spark, cfg, layout.render(
            mergeChunk(spark, cfg, fs, rows, chunk, fmt, jsonSchema, temps, layout.attach)),
          format, topic, sidecar)
        finally temps.foreach(t => fs.delete(t, true))
      written = written.merge(committed, cfg.maxReportedPaths)
    }
    written
  }

  /** `probe` of each distinct `__path` of `rows`, run executor-side on the
    * output filesystem: the one probe job of the merge and of the cleaner.
    */
  private[jobs] def probeBins[T: org.apache.spark.sql.Encoder](spark: SparkSession,
      outputRoot: String, rows: DataFrame)(
      probe: (FileSystem, String) => Option[T]): org.apache.spark.sql.Dataset[T] = {
    val confEntries = AvroRead.fsConfEntries(spark)
    rows.select(col("__path")).distinct().as[String](org.apache.spark.sql.Encoders.STRING)
      .mapPartitions { it =>
        if (it.isEmpty) Iterator.empty
        else {
          val conf = new org.apache.hadoop.conf.Configuration()
          confEntries.foreach { case (k, v) => conf.set(k, v) }
          val pfs = new HPath(outputRoot).getFileSystem(conf)
          it.flatMap(p => probe(pfs, p))
        }
      }
  }

  /** The one chunk-consumption loop over a bin probe (the merge's and the
    * cleaner's). `probed` holds one row per existing bin, its first field
    * that bin's `__path` in `rows`; `known` is the same rows when the
    * caller already holds them. `f` gets `rows` in pieces that PARTITION
    * the bin space, each with the probe rows of its bins.
    *
    * One pass fetches at most `chunkBins + 1` probe rows — enough to tell
    * the cases apart without a separate count: up to `chunkBins` (none
    * included), one call with every row. More: a giant re-run, whose probe
    * result is persisted and fetched `chunkBins` rows at a time (cached
    * partitions sized ~chunkBins, so toLocalIterator holds one); each
    * chunk's call re-scans `rows` for its bins' rows — N chunks trade N
    * scans for O(chunk) driver heap — and a last call takes the rows of
    * bins with no probe row.
    */
  private[jobs] def inBinChunks[T: org.apache.spark.sql.Encoder](spark: SparkSession,
      rows: DataFrame, probed: org.apache.spark.sql.Dataset[T], known: Option[Seq[T]],
      chunkBins: Int)(f: (DataFrame, Seq[T]) => Unit): Unit = {
    val chunkSize = math.max(1, chunkBins)
    val head = known.getOrElse(
      probed.limit(math.min(chunkSize.toLong + 1, Int.MaxValue).toInt).collect().toSeq)
    if (head.size <= chunkSize) f(rows, head)
    else {
      import scala.jdk.CollectionConverters._
      val probedDf = known.fold(probed)(spark.createDataset(_))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      try {
        val bin = col(probedDf.columns.head)
        val nParts = math.max(1, math.ceil(probedDf.count().toDouble / chunkSize).toInt)
        val chunks = probedDf.repartition(nParts, bin).toLocalIterator().asScala.grouped(chunkSize)
        for (chunk <- chunks) {
          val inChunk = spark.createDataset(chunk.toSeq).select(bin.as("__path"))
          f(rows.join(broadcast(inChunk), Seq("__path"), "left_semi"), chunk.toSeq)
        }
        f(rows.join(probedDf.select(bin.as("__path")), Seq("__path"), "left_anti"), Nil)
      } finally probedDf.unpersist(false)
    }
  }

  /** Merge-planning probe of one target bin: None when absent, else
    * (path, state, header) with state 0 = exists (zip mode: no header
    * needed), 1 = readable with header ("" for JSON), 2 = exists but
    * unreadable/corrupt. Runs executor-side.
    */
  private[jobs] def probeBin(fs: FileSystem, outputRoot: String, p: String,
      wantHeader: Boolean, format: String): Option[(String, Int, String)] = {
    val full = new HPath(s"$outputRoot/$p")
    if (!fs.exists(full)) None
    else if (!wantHeader) Some((p, 0, ""))
    else if (!sniffReadable(fs, full.toString)) Some((p, 2, ""))
    else if (format == "json") Some((p, 1, ""))
    else readHeaderLine(fs, full) match {
      case Some(h) => Some((p, 1, h))
      case None => Some((p, 2, ""))
    }
  }

  /** One chunk's merge plan: quarantine corrupt targets, then join the
    * chunk's new rows with ONE reader per distinct header (CSV) / one
    * overall (JSON) — O(attempt-schemas) plan nodes per chunk, not
    * O(bins); each reader carries the known relative bin path as `__path`
    * so all bins of a group load in a single distributed scan. `attach`
    * does the join ([[attachByName]] unless a layout says otherwise).
    *
    * Zip bins (which Spark's readers cannot decompress) are streamed into
    * ONE temp directory on the output filesystem, mirroring their relative
    * paths with an `.unz` suffix — the same per-header single scans then
    * apply, with `__path` re-derived by stripping the temp prefix/suffix.
    * Plan node count is O(headers) for zip too (previously one union
    * branch PER zip bin). A zip that fails to stream (corrupt/empty) is
    * quarantined and its bin starts fresh. `temps` receives the temp
    * directory for post-commit recursive cleanup.
    */
  private[jobs] def mergeChunk(
      spark: SparkSession, cfg: RestructureJobConfig, fs: FileSystem,
      preparedChunk: DataFrame, chunk: Seq[(String, Int, String)],
      format: String, jsonSchema: Option[StructType],
      temps: scala.collection.mutable.Buffer[HPath],
      attach: (DataFrame, Seq[(String, DataFrame)]) => DataFrame = attachByName): DataFrame = {
    chunk.collect { case (p, 2, _) => p }
      .foreach(p => quarantine(fs, new HPath(s"${cfg.outputRoot}/$p")))
    val headered = chunk.collect { case (p, s, h) if s != 2 => (p, h) }
    val (frames, failed) = existingBinFrames(spark, fs, cfg.outputRoot,
      headered, format, jsonSchema, cfg.zip, temps)
    failed.foreach(p => quarantine(fs, new HPath(s"${cfg.outputRoot}/$p")))
    attach(preparedChunk, frames)
  }

  /** Union existing-bin frames into a chunk's new rows by column name;
    * existing rows sort before any new file.
    */
  private[jobs] def attachByName(fresh: DataFrame,
      existing: Seq[(String, DataFrame)]): DataFrame = {
    // Drifted-column visibility: a bin is rewritten with the column UNION
    // of its chunk's frame, so when existing bins carry columns the batch
    // schema lacks, the rewritten header depends on hash-based chunk
    // assignment — the same store can get different headers run to run.
    // Surface it instead of staying silent (the doc comment on
    // mergeCommitBins explains why the per-chunk union is still the
    // semantically meaningful set).
    val driftedCols = existing.iterator.flatMap(_._2.columns).toSet -
      "__path" -- fresh.columns
    if (driftedCols.nonEmpty)
      Console.err.println(
        s"[graft] existing bins carry ${driftedCols.size} column(s) absent from the " +
          s"batch schema (${driftedCols.toSeq.sorted.take(8).mkString(", ")}" +
          s"${if (driftedCols.size > 8) ", …" else ""}); rewritten headers will union " +
          "per merge chunk, so header column sets may vary run to run on this store")
    existing.foldLeft(fresh) { case (acc, (_, stored)) =>
      val old = stored
        .withColumn(AvroRead.FileCol, lit("")) // sorts before any real file
        .withColumn(AvroRead.PosCol, monotonically_increasing_id())
      acc.unionByName(old, allowMissingColumns = true)
    }
  }

  /** Readers over a chunk's EXISTING bins — the ONE place the scanned-row
    * → bin-path mapping is defined (shared by [[mergeChunk]] and
    * [[Cleaner.verifyTopic]]): one DataFrame per distinct CSV header (one
    * overall for JSON, header ""), each paired with its header line and
    * carrying `binOf` of the known relative bin path as its `__path`
    * column (the cleaner maps each attempt file to its base bin). Zip
    * bins stream into one dot-prefixed temp directory first (appended to
    * `temps` for recursive post-use cleanup), with each bin's real header
    * read off the unzipped file. Returns (frames, failed): `failed` = zip
    * bins that would not stream or had no readable header — the caller
    * decides what that means (restructure quarantines, the cleaner keeps
    * the source file). `headered` must already exclude corrupt probe
    * entries.
    */
  private[jobs] def existingBinFrames(
      spark: SparkSession, fs: FileSystem, outputRoot: String,
      headered: Seq[(String, String)], format: String,
      jsonSchema: Option[StructType], zip: Boolean,
      temps: scala.collection.mutable.Buffer[HPath],
      binOf: String => String = identity)
      : (Seq[(String, DataFrame)], Seq[String]) = {
    val (scanRoot, suffix, avail, failed) =
      if (!zip || headered.isEmpty) (outputRoot, "", headered, Nil)
      else {
        val tempRoot = s"$outputRoot/.graft-unzip-${java.util.UUID.randomUUID()}"
        temps += new HPath(tempRoot)
        val unz = unzipBins(fs, outputRoot, tempRoot, headered.map(_._1),
          wantHeader = format != "json")
        (tempRoot, ".unz",
          unz.collect { case (p, Some(h)) => (p, h) },
          unz.collect { case (p, None) => p })
      }
    val frames =
      if (format == "json") {
        // JSON bins ride [[readJsonBinFiles]] — the same distributed
        // whole-file recipe as the CSV branch below — instead of
        // spark.read.json's per-file DataFrame-source setup (~28 ms/file;
        // the round-17 residual). The known relative path doubles as
        // `__path` directly, which also retires the input_file_name
        // percent-decode UDF this branch used to need (bin paths carrying
        // URI-escapable characters never pass through an encoded URI now).
        // jsonSchema is Some on the merge path (jsonBins passes the typed
        // data schema); the cleaner passes None and pays one inference
        // pass, then the same bespoke read.
        Seq(avail.map(_._1)).filter(_.nonEmpty).map { members =>
          val sch = jsonSchema.getOrElse(
            spark.read.json(members.map(p => s"$scanRoot/$p$suffix"): _*).schema)
          "" -> readJsonBinFiles(spark, scanRoot, suffix, members, sch, binOf = binOf)
        }
      } else {
        // CSV bins go through [[readCsvBinFiles]] — a distributed
        // whole-file Univocity read — instead of spark.read.csv: the
        // DataFrame CSV source pays ~28 ms of per-file setup, which at a
        // 20k-tiny-bin append is >20 s of pure overhead per merge chunk
        // against ~0.1 s of raw IO (PLANS.md round-17 attribution); the
        // reference-scale 50k-bin store would spend the append in reader
        // setup. __path is `binOf` of the known relative path.
        avail.groupBy(_._2).toSeq.map { case (h, members) =>
          h -> readCsvBinFiles(spark, scanRoot, suffix, members.map(_._1), h, binOf = binOf)
        }
      }
    (frames, failed)
  }

  /** Default bounded open-ahead depth for the bespoke bin readers. */
  private[graft] val BinOpenAheadDefault = 4

  /** Bounded open-AHEAD over one task's bin files: on an object store every
    * open is a ~20-50 ms GET round-trip, and a task opening hundreds of
    * bins sequentially rebuilds a seconds-scale wall at 50k bins (the
    * round-17 watch item — at S3-class ~30 ms/GET, 50k bins across 64
    * slices is ~23 s of pure open latency). Up to `ahead` opens run on a
    * small background pool, overlapping the current file's parse; memory
    * stays bounded (at most `ahead` OPEN streams ahead, no buffered bytes).
    * The returned iterator yields (relPath, rawStream) with the stream the
    * CONSUMER's to close; streams still in flight when the task completes
    * (success, failure, or partial consumption) are closed by a
    * task-completion listener. `ahead <= 0` degrades to plain sequential
    * opens (the baseline OpenAheadSpec compares against).
    */
  private def openBinsAhead(pfs: FileSystem, root: String, sfx: String,
      paths: Array[String], ahead: Int): Iterator[(String, java.io.InputStream)] = {
    def openOne(p: String): java.io.InputStream = pfs.open(new HPath(s"$root/$p$sfx"))
    if (ahead <= 0 || paths.length <= 1)
      return paths.iterator.map(p => (p, openOne(p)))
    val pool = java.util.concurrent.Executors.newFixedThreadPool(
      math.min(ahead, 4), (r: Runnable) => {
        val t = new Thread(r, "graft-bin-open-ahead"); t.setDaemon(true); t
      })
    val futures = new Array[java.util.concurrent.Future[java.io.InputStream]](paths.length)
    var submitted = 0
    def submitUpTo(limit: Int): Unit =
      while (submitted < math.min(limit, paths.length)) {
        val p = paths(submitted)
        futures(submitted) = pool.submit(
          new java.util.concurrent.Callable[java.io.InputStream] {
            def call(): java.io.InputStream = openOne(p)
          })
        submitted += 1
      }
    @volatile var cursor = 0
    val cleaned = new java.util.concurrent.atomic.AtomicBoolean(false)
    def cleanup(): Unit = if (cleaned.compareAndSet(false, true)) {
      (cursor until submitted).foreach { i =>
        try {
          val f = futures(i)
          if (f != null) { f.cancel(false); if (!f.isCancelled) f.get().close() }
        } catch { case _: Exception => }
      }
      pool.shutdownNow()
    }
    Option(org.apache.spark.TaskContext.get())
      .foreach(_.addTaskCompletionListener[Unit](_ => cleanup()))
    new Iterator[(String, java.io.InputStream)] {
      def hasNext: Boolean = { val h = cursor < paths.length; if (!h) cleanup(); h }
      def next(): (String, java.io.InputStream) = {
        val i = cursor
        submitUpTo(i + 1 + ahead)
        // advance BEFORE the blocking get: if the open failed, its slot
        // holds no stream, and cleanup starts from the next in-flight one
        cursor = i + 1
        (paths(i), futures(i).get())
      }
    }
  }

  /** Distributed whole-file CSV read of EXISTING bins (the merge/cleaner
    * re-read path): each task opens its files directly and parses them with
    * the same Univocity parser Spark's CSV source uses, configured to match
    * this codebase's reader options — header row, quote `"` escaped by
    * doubling, multiLine (embedded newlines inside quotes), permissive
    * ragged-row handling, empty-and-missing → null (what spark.read.csv
    * yields for string columns). Whole-file parse bounds task memory by the
    * largest single bin, exactly like the multiLine=true source it
    * replaces. Row-for-row parity with spark.read.csv is pinned by
    * `CsvReadParitySpec` over adversarial content (quoted newlines, doubled
    * quotes, empty vs missing fields, unicode, CRLF, ragged rows) and by
    * the merge/quarantine golden e2es.
    */
  private[graft] def readCsvBinFiles(spark: SparkSession, scanRoot: String,
      suffix: String, members: Seq[String], headerLine: String,
      openAhead: Int = BinOpenAheadDefault, binOf: String => String = identity): DataFrame = {
    import org.apache.spark.sql.types.{StringType, StructField}
    def settings(): com.univocity.parsers.csv.CsvParserSettings = {
      val s = new com.univocity.parsers.csv.CsvParserSettings
      val fmt = s.getFormat
      fmt.setDelimiter(',')
      fmt.setQuote('"')
      fmt.setQuoteEscape('"')
      fmt.setCharToEscapeQuoteEscaping('\u0000')
      fmt.setComment('\u0000')
      s.setIgnoreLeadingWhitespaces(false)
      s.setIgnoreTrailingWhitespaces(false)
      s.setReadInputOnSeparateThread(false)
      s.setMaxCharsPerColumn(-1)
      s.setMaxColumns(20480)
      s.setNullValue("")
      s.setEmptyValue("")
      s.setUnescapedQuoteHandling(
        com.univocity.parsers.csv.UnescapedQuoteHandling.STOP_AT_DELIMITER)
      s.setLineSeparatorDetectionEnabled(true)
      s
    }
    val parsedHeader = new com.univocity.parsers.csv.CsvParser(settings()).parseLine(headerLine)
    // makeSafeHeader parity with spark.read.csv (CSVDataSource, default
    // case-INsensitive analysis): empty/null names become _c<i>; names
    // duplicated (case-insensitively) get their column index appended —
    // without this, a bin whose flattened header repeats a name would
    // yield a duplicate-column DataFrame that fails later in unionByName
    // with an ambiguous-column error instead of merging.
    val dupNames = parsedHeader.iterator.filter(c => c != null && c.nonEmpty)
      .map(_.toLowerCase(java.util.Locale.ROOT))
      .toSeq.groupBy(identity).filter(_._2.size > 1).keySet
    val cols = parsedHeader.zipWithIndex.map { case (c, i) =>
      if (c == null || c.isEmpty) s"_c$i"
      else if (dupNames.contains(c.toLowerCase(java.util.Locale.ROOT))) s"$c$i"
      else c
    }
    val n = cols.length
    val confEntries = AvroRead.fsConfEntries(spark)
    val slices = math.max(1,
      math.min(members.size, spark.sparkContext.defaultParallelism * 2))
    val rootLocal = scanRoot
    val sfx = suffix
    val aheadLocal = openAhead
    val rdd = spark.sparkContext.parallelize(members, slices).mapPartitions { it =>
      val conf = new org.apache.hadoop.conf.Configuration()
      confEntries.foreach { case (k, v) => conf.set(k, v) }
      val pfs = new HPath(rootLocal).getFileSystem(conf)
      val parser = new com.univocity.parsers.csv.CsvParser(settings())
      openBinsAhead(pfs, rootLocal, sfx, it.toArray, aheadLocal).flatMap { case (p, raw) =>
        val bin = binOf(p)
        // a corrupt/truncated gzip header throws from the decompressor
        // CONSTRUCTOR — close the raw FS stream on that path too (the
        // finally below only covers streams that reached the reader)
        val in: java.io.InputStream =
          if (p.endsWith(".gz"))
            try new java.util.zip.GZIPInputStream(raw)
            catch { case e: Throwable => raw.close(); throw e }
          else raw
        val reader = new java.io.InputStreamReader(in, java.nio.charset.StandardCharsets.UTF_8)
        val parsed = try parser.parseAll(reader) finally reader.close()
        import scala.jdk.CollectionConverters._
        // first row is the header; short rows pad with null, long rows
        // truncate — PERMISSIVE's partial-row behavior for our all-string
        // schema. "" → null matches spark.read.csv's nullValue default.
        parsed.asScala.iterator.drop(1).map { toks =>
          val vals = new Array[Any](n + 1)
          var i = 0
          while (i < n) {
            val v = if (toks != null && i < toks.length) toks(i) else null
            vals(i) = if (v == null || v.isEmpty) null else v
            i += 1
          }
          vals(n) = bin
          org.apache.spark.sql.Row.fromSeq(
            scala.collection.immutable.ArraySeq.unsafeWrapArray(vals))
        }
      }
    }
    val schema = StructType(
      cols.map(c => StructField(c, StringType, nullable = true)).toSeq :+
        StructField("__path", StringType, nullable = false))
    spark.createDataFrame(rdd, schema)
  }

  /** Distributed whole-file JSON-lines read of EXISTING bins — the JSON
    * twin of [[readCsvBinFiles]], killing the same ~28 ms/file
    * DataFrame-source setup `spark.read.json` pays per existing bin (the
    * round-17 documented residual; at a 20k-bin JSON append that constant
    * was the whole wall). Each task opens its files directly, splits them
    * into lines (JSON-lines bins never embed raw newlines — the writer
    * escapes them), and the known TYPED schema is applied by
    * `from_json` — Catalyst's own Jackson parser, i.e. the exact parser
    * and coercion rules `spark.read.json` uses, so typed parity is by
    * construction (pinned adversarially in `JsonReadParitySpec`).
    * Whitespace-only lines are skipped like the DataFrame source does;
    * a malformed line yields the same all-null PERMISSIVE row. `__path`
    * is the known relative path directly — no input_file_name decode.
    */
  private[jobs] def readJsonBinFiles(spark: SparkSession, scanRoot: String,
      suffix: String, members: Seq[String], schema: StructType,
      openAhead: Int = BinOpenAheadDefault, binOf: String => String = identity): DataFrame = {
    import org.apache.spark.sql.types.{StringType, StructField}
    val confEntries = AvroRead.fsConfEntries(spark)
    val slices = math.max(1,
      math.min(members.size, spark.sparkContext.defaultParallelism * 2))
    val rootLocal = scanRoot
    val sfx = suffix
    val aheadLocal = openAhead
    val rdd = spark.sparkContext.parallelize(members, slices).mapPartitions { it =>
      val conf = new org.apache.hadoop.conf.Configuration()
      confEntries.foreach { case (k, v) => conf.set(k, v) }
      val pfs = new HPath(rootLocal).getFileSystem(conf)
      openBinsAhead(pfs, rootLocal, sfx, it.toArray, aheadLocal).flatMap { case (p, raw) =>
        val bin = binOf(p)
        val in: java.io.InputStream =
          if (p.endsWith(".gz"))
            try new java.util.zip.GZIPInputStream(raw)
            catch { case e: Throwable => raw.close(); throw e }
          else raw
        val reader = new java.io.BufferedReader(
          new java.io.InputStreamReader(in, java.nio.charset.StandardCharsets.UTF_8), 65536)
        // eager whole-file read: deterministic close, task memory bounded
        // by the largest single bin — same contract as the CSV twin
        val lines = scala.collection.mutable.ArrayBuffer.empty[org.apache.spark.sql.Row]
        try {
          var l = reader.readLine()
          while (l != null) {
            if (!l.forall(Character.isWhitespace)) lines += org.apache.spark.sql.Row(l, bin)
            l = reader.readLine()
          }
        } finally reader.close()
        lines.iterator
      }
    }
    val lineDf = spark.createDataFrame(rdd, StructType(Seq(
      StructField("__line", StringType, nullable = false),
      StructField("__path", StringType, nullable = false))))
    lineDf
      .select(from_json(col("__line"), schema).as("__r"), col("__path"))
      .select(col("__r.*"), col("__path"))
  }

  /** Stream a set of existing zip bins into `tempRoot`, mirroring their
    * relative paths with an `.unz` suffix so the bin readers map back by
    * prefix/suffix strip. Returns one entry per input: `Some(header)`
    * (the first line when `wantHeader`, else "") on success, `None` when
    * the zip fails to stream or its header is unreadable — the CALLER
    * decides what a failure means (restructure quarantines, the cleaner
    * keeps the source file). Shared by [[mergeChunk]] and
    * [[Cleaner.verifyTopic]].
    */
  private[jobs] def unzipBins(fs: FileSystem, outputRoot: String, tempRoot: String,
      rels: Seq[String], wantHeader: Boolean): Seq[(String, Option[String])] =
    rels.map { p =>
      try {
        val tmp = new HPath(s"$tempRoot/$p.unz")
        val zin = new java.util.zip.ZipInputStream(fs.open(new HPath(s"$outputRoot/$p")))
        val out = fs.create(tmp, true)
        try {
          require(zin.getNextEntry != null, s"empty zip: $p")
          val buf = new Array[Byte](65536)
          var n = zin.read(buf)
          while (n >= 0) { out.write(buf, 0, n); n = zin.read(buf) }
        } finally { zin.close(); out.close() }
        (p, if (wantHeader) readHeaderLine(fs, tmp) else Some(""))
      } catch { case _: Exception => (p, None) }
    }

  /** Driver-side readability probe: stream the first bytes through the
    * matching decompressor. Catches truncated/corrupt gzip and zip targets
    * without launching a Spark job per bin.
    */
  private def sniffReadable(fs: FileSystem, path: String): Boolean =
    try {
      val raw = fs.open(new HPath(path))
      val in =
        if (path.endsWith(".gz")) new java.util.zip.GZIPInputStream(raw)
        else if (path.endsWith(".zip")) {
          val z = new java.util.zip.ZipInputStream(raw)
          if (z.getNextEntry == null) throw new java.io.IOException("empty zip")
          z
        } else raw
      try { in.read(new Array[Byte](1024)); true } finally in.close()
    } catch { case _: Exception => false }

  /** §7.4-1 data-dependent CSV schemas: map keys and array indices become
    * columns per record, RECURSIVELY — `array<record>` flattens to
    * `a.0.b, a.1.b…`, `map<string,record>` to `m.key.b…`, to any depth
    * (CsvAvroDataConverter.kt:52-63 recurses through RECORD/MAP/ARRAY
    * alike); records whose flattened header differs (different key sets /
    * arity at any depth) go to attempt files `bin_1.csv`, `bin_2.csv`, …
    * (RestructureWorker.kt:163-183).
    *
    * Spark shape: one pass computes a per-record canonical SHAPE string
    * ([[graft.model.DynamicShape]]) whose md5 is the header fingerprint;
    * groups are ordered by first appearance (file, pos) of each
    * fingerprint within the topic batch; each group's rows are rendered
    * with ITS OWN recursively-expanded header, derived by parsing the
    * group's (uniform) shape string back into a tree. All groups then
    * share one job that resolves attempt slots and probes their targets,
    * one merge plan and one commit, so the job count does not grow with
    * the number of shapes.
    */
  private def dynamicCsvBins(
      spark: SparkSession, cfg: RestructureJobConfig, fs: FileSystem, topic: String,
      df: DataFrame, dataSchema: StructType, basePathCol: Column,
      sidecar: Option[Array[Byte]]): Committed = {
    import graft.model.DynamicShape
    import spark.implicits._
    // persisted once: group discovery and the commit both read this frame,
    // so the source is decoded once whatever the number of shapes
    val withFp = df
      .withColumn("__shape", DynamicShape.rootShapeCol(dataSchema))
      .withColumn("__fp", md5(col("__shape").cast(BinaryType)))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)

    try {
      // one pass: per fingerprint, its first appearance (attempt order —
      // reference: arrival order), the group's concrete shape (uniform
      // within the group by construction — any row's value serves) and the
      // base paths it writes to. limit(cap+1) BEFORE the collect: the cap
      // check below must fire from a bounded driver materialization. A
      // pathological batch (per-row-unique map keys → millions of distinct
      // shapes, each carrying its full shape string) would otherwise
      // materialize the whole group table on the driver just to throw the
      // capped error — OOM instead of the designed fail-with-cure.
      val capped = withFp
        .groupBy(col("__fp"))
        .agg(min(struct(col(AvroRead.FileCol), col(AvroRead.PosCol))).as("__first"),
          first(col("__shape")).as("__gshape"),
          collect_set(basePathCol).as("__bases"),
          max(basePathCol.isNull).as("__nullBase"))
        .limit(cfg.maxSchemaFingerprints + 1)
        .collect()
      // enforced bound: every shape adds its own rendering branch over the
      // cached batch, so plan size and scan work grow linearly with shape
      // count — fine for the schema-drift topics this serves (a handful of
      // shapes), pathological beyond it. Fail with a cure instead. INSIDE
      // the try: per-topic failure isolation keeps the run alive after
      // this throw, so the finally must still release the cached batch.
      require(capped.length <= cfg.maxSchemaFingerprints,
        s"topic $topic has more than ${cfg.maxSchemaFingerprints} distinct map-key/array-arity " +
          s"header shapes in one batch (cap ${cfg.maxSchemaFingerprints}); each shape renders " +
          "its own header in its own pass over the cached batch. Fix the producer schema drift, " +
          "raise worker.maxSchemaFingerprints, or process in smaller batches " +
          "(worker.maxFilesPerTopic) so fewer shapes land per run")
      require(!capped.exists(r => r.getBoolean(r.fieldIndex("__nullBase"))),
        s"topic $topic: the path template yielded a null bin path")
      if (capped.isEmpty) return Committed.empty
      // attempt order in Spark's struct order: the file name by UTF-8
      // bytes, then the position
      def firstOf(r: org.apache.spark.sql.Row): (Array[Byte], Long) = {
        val f = r.getStruct(r.fieldIndex("__first"))
        (f.getString(0).getBytes(java.nio.charset.StandardCharsets.UTF_8), f.getLong(1))
      }
      val groupRows = capped.map(r => (firstOf(r), r)).sortWith { case (((fa, pa), _), ((fb, pb), _)) =>
        val c = java.util.Arrays.compareUnsigned(fa, fb)
        c < 0 || (c == 0 && pa < pb)
      }.map(_._2).toIndexedSeq

      // excludeFields match FLATTENED names, so map-key / array-index
      // expansions filter on their expanded form too (reference golden:
      // excludeFields {a, i.other} drops the i.other map column,
      // CsvAvroConverterTest.kt:69-84)
      val exclude = cfg.allExcludeFields(topic)
      val groupCols = groupRows.map { row =>
        val shapes = DynamicShape.parseRoot(row.getString(row.fieldIndex("__gshape")), dataSchema)
        row.getString(row.fieldIndex("__fp")) -> DynamicShape.expandRoot(dataSchema, shapes, exclude)
      }
      val names = groupCols.map(_._2.map(_._1))
      // the stored header is written by the bin writer, which quotes
      // fields containing delimiter/quote/newline (map keys can hold any of
      // these) — the attempt-slot comparison uses the same quoting
      val headers = names.map(_.map(csvQuote).mkString(","))

      // attempt slots resolve EXECUTOR-side in ONE job over the base paths
      // (no shuffle: the group table above already lists each group's
      // bases): a task resolves each base path's groups in group order
      // against the existing files (reference semantics: arrival order
      // against existing files, RestructureWorker.kt:163-183), with slots
      // claimed earlier in the batch counted as holding that group's header
      // — what sequential per-group commits would have seen — and probes
      // every chosen target for the merge in the same pass.
      // The result is materialized exactly once: it is FS-state-dependent
      // (exists/header probes), and the merge planning and the commit must
      // see one FS snapshot — a lazy plan re-evaluated per action could
      // assign diverging attempt slots if quarantine renames happen in
      // between, routing rows to a bin never probed for merging. The
      // mapping is one row per (bin, group), the same cardinality the
      // broadcast join holds on the driver anyway.
      val byBase = groupRows.zipWithIndex
        .flatMap { case (row, g) => row.getSeq[String](row.fieldIndex("__bases")).map(_ -> g) }
        .groupMap(_._1)(_._2).toSeq
      val confEntries = AvroRead.fsConfEntries(spark)
      val outputRoot = cfg.outputRoot
      val ext = cfg.extension
      val wantHeader = !cfg.zip
      val hdrs = headers.toArray
      val resolved = spark.sparkContext
        .parallelize(byBase, math.max(1, math.min(byBase.size, spark.sparkContext.defaultParallelism)))
        .mapPartitions { it =>
          if (it.isEmpty) Iterator.empty
          else {
            val conf = new org.apache.hadoop.conf.Configuration()
            confEntries.foreach { case (k, v) => conf.set(k, v) }
            val pfs = new HPath(outputRoot).getFileSystem(conf)
            it.map { case (base, grps) =>
              val paths = resolveAttemptSlots(pfs, outputRoot, ext, base, grps.map(hdrs(_)))
              (grps.zip(paths).map { case (g, p) => (base, g, p) },
                paths.distinct.flatMap(p => probeBin(pfs, outputRoot, p, wantHeader, "csv")))
            }
          }
        }.collect()
      val mapDf = spark.createDataset(resolved.toSeq.flatMap(_._1)).toDF("__base", "__grp", "__path")

      // every group rendered with its own columns (positional `__c<i>`, so
      // column names never need quoting), then one union of all groups:
      // one probe result, one merge plan and one commit for the topic
      val fresh = groupCols.zipWithIndex.map { case ((fp, outCols), g) =>
        val cols = outCols.indices.map(i => s"__c$i")
        val (key, line) = keyAndLine(cfg, topic, "csv", names(g), cols.map(col))
        withFp.filter(col("__fp") === fp)
          .select(outCols.zip(cols).map { case ((_, c), n) => c.as(n) } ++ Seq(
            basePathCol.as("__base"), col(AvroRead.FileCol), col(AvroRead.PosCol)): _*)
          .select(col("__base"), lit(g).as("__grp"), col(AvroRead.FileCol),
            col(AvroRead.PosCol), key.as("__key"), line.as("__line"))
      }.reduce(_ union _)
      val prepared = fresh.join(broadcast(mapDf), Seq("__base", "__grp")).drop("__base")
      mergeCommitBins(spark, cfg, fs, prepared, "csv", None, topic, sidecar,
        new ShapeGroupLayout(cfg, topic, names), Some(resolved.toSeq.flatMap(_._2)))
    } finally withFp.unpersist(false)
  }

  /** RFC4180 quoting as Spark's CSV writer applies it: quote only when the
    * field contains delimiter/quote/CR/LF; embedded quotes double.
    */
  private[jobs] def csvQuote(field: String): String =
    if (field.exists(c => c == ',' || c == '"' || c == '\n' || c == '\r'))
      "\"" + field.replace("\"", "\"\"") + "\""
    else field

  /** Bucket-name safety net (reference FormattedPathFactory.kt:51-60):
    * a formatted bucket name FULL-matching any `bucketDisabledFormats`
    * regex — case-insensitively, per Kotlin's
    * `toRegex(IGNORE_CASE).matches()` — is replaced by
    * `bucketDefaultName`. A plain `when/rlike` column expression, so the
    * substitution rides inside the same codegen'd path projection as the
    * template itself (no extra pass, nothing driver-side).
    */
  private def bucketWithFallback(cfg: RestructureJobConfig, bucket: Column): Column =
    if (cfg.bucketDisabledFormats.isEmpty) bucket
    else {
      // anchor for full-match and wrap each user regex non-capturing so
      // alternation cannot leak across patterns
      val pattern = cfg.bucketDisabledFormats.mkString("(?i)^(?:(?:", ")|(?:", "))$")
      when(bucket.rlike(pattern), lit(cfg.bucketDefaultName)).otherwise(bucket)
    }

  /** Attempt slots (`bin.csv`, `bin_1.csv`, `bin_2.csv`, …) for the shape
    * groups writing to `basePath`, given in group order by their header
    * lines: each group takes the first slot that is free or holds its
    * header. A slot taken by an earlier group counts as holding that
    * group's header, so groups with equal headers (e.g. shapes that differ
    * only in excluded fields) share one slot and the rest move past it.
    * Runs executor-side (static call, primitive args) so attempt planning
    * distributes with the paths.
    */
  private[jobs] def resolveAttemptSlots(
      fs: FileSystem, outputRoot: String, extension: String,
      basePath: String, headers: Seq[String]): Seq[String] = {
    // slot → header of what occupies it (None: unreadable)
    val occupied = scala.collection.mutable.Map.empty[Int, Option[String]]
    def occupant(i: Int): Option[Option[String]] = occupied.get(i).orElse {
      val full = new HPath(s"$outputRoot/${attemptPath(basePath, extension, i)}")
      if (!fs.exists(full)) None
      else {
        val h = readHeaderLine(fs, full)
        occupied(i) = h
        Some(h)
      }
    }
    headers.map { h =>
      var i = 0
      while (i < MaxAttempts && occupant(i).exists(!_.contains(h))) i += 1
      occupied(i) = Some(h)
      attemptPath(basePath, extension, i)
    }
  }

  private val MaxAttempts = 1000

  /** The one attempt-file naming: slot 0 is the bin itself, slot i inserts
    * `_i` before the extension (`bin.csv`, `bin_1.csv`, …).
    */
  private[jobs] def attemptPath(basePath: String, extension: String, i: Int): String =
    if (i == 0) basePath
    else if (basePath.endsWith(extension))
      basePath.dropRight(extension.length) + s"_$i" + extension
    else basePath + s"_$i"

  /** [[probeBin]] over a base bin's attempt family: `bin`, `bin_1`, … up
    * to the first absent slot. Runs executor-side.
    */
  private[jobs] def probeAttempts(fs: FileSystem, outputRoot: String, extension: String,
      basePath: String, wantHeader: Boolean, format: String): Seq[(String, Int, String)] =
    Iterator.range(0, MaxAttempts)
      .map(i => probeBin(fs, outputRoot, attemptPath(basePath, extension, i), wantHeader, format))
      .takeWhile(_.isDefined).flatten.toSeq

  /** First header RECORD of a (possibly gzip/zip) CSV bin, or None if
    * unreadable. Two traps a naive first-line read falls into, both real
    * for dynamic map-key headers: (1) bytes must decode as UTF-8 (reading
    * byte-as-char mojibakes a `é`/`中` column name, so the attempt-reuse
    * comparison against the rendered header never matches and every
    * append leaks a new `_N` attempt file); (2) a quoted column name may
    * contain an embedded newline, so the record ends at the first UNQUOTED
    * `\n` — RFC4180 quote-toggle scan, doubled quotes toggle out and back.
    */
  private[jobs] def readHeaderLine(fs: FileSystem, path: HPath): Option[String] =
    try {
      val raw = fs.open(path)
      val in =
        if (path.getName.endsWith(".gz")) new java.util.zip.GZIPInputStream(raw)
        else if (path.getName.endsWith(".zip")) {
          val z = new java.util.zip.ZipInputStream(raw)
          z.getNextEntry
          z
        } else raw
      try {
        // 64 MB cap: unlucky quote parity in a corrupt/binary file would
        // otherwise buffer the WHOLE file here (the probe runs this on
        // every existing target). Past the cap the file reads as
        // unreadable → quarantined — the deliberate trade: a LEGITIMATE
        // >64 MB single header row (millions of map-key columns; far past
        // anything the dynamic-shape pipeline produces under its caps)
        // would re-quarantine each run, while an uncapped read lets one
        // corrupt multi-GB object OOM every probe task that touches it.
        val cap = 64 * 1024 * 1024
        val buf = new java.io.ByteArrayOutputStream(256)
        var inQuotes = false
        var b = in.read()
        while (b >= 0 && !(b == '\n' && !inQuotes) && buf.size < cap) {
          if (b == '"') inQuotes = !inQuotes
          buf.write(b)
          b = in.read()
        }
        if (buf.size >= cap) None
        else Some(new String(buf.toByteArray, java.nio.charset.StandardCharsets.UTF_8))
      } finally in.close()
    } catch { case _: Exception => None }

  /** K9: move an unreadable target aside as `<name>.corrupted[-i]`.
    * A failed rename THROWS (caught by per-topic isolation): proceeding
    * would treat the still-present corrupt file as a fresh bin slot and
    * the commit's rename-over would destroy the evidence it exists to
    * preserve.
    */
  private def quarantine(fs: FileSystem, target: HPath): Unit = {
    var candidate = new HPath(target.toString + ".corrupted")
    var i = 0
    while (fs.exists(candidate)) {
      i += 1
      candidate = new HPath(target.toString + s".corrupted-$i")
    }
    if (!fs.rename(target, candidate))
      throw new java.io.IOException(s"failed to quarantine corrupt target $target -> $candidate")
  }

  private def jsonBins(
      spark: SparkSession, cfg: RestructureJobConfig, fs: FileSystem, topic: String,
      df: DataFrame, dataSchema: StructType, pathCol: Column,
      sidecar: Option[Array[Byte]]): Committed = {
    // project by the topic's data schema (like csvColumns), NOT df.columns:
    // the frame arrives plugin-enriched, and the __-prefixed enrichment
    // structs must never reach written records or the dedup key
    val dataCols = dataSchema.fieldNames.toSeq
      .filterNot(cfg.allExcludeFields(topic))
      .map(n => col(s"`$n`"))
    val prepared = df.select(dataCols ++ Seq(
      pathCol.as("__path"), col(AvroRead.FileCol), col(AvroRead.PosCol)): _*)
    val dataOnly = StructType(prepared.schema.fields.filterNot(f =>
      Seq("__path", AvroRead.FileCol, AvroRead.PosCol).contains(f.name)))
    // A2 whole-record keep-first dedup happens inside the writer (commitBins
    // keys each rendered record)
    mergeCommitBins(spark, cfg, fs, prepared, "json", Some(dataOnly), topic, sidecar,
      new ByNameLayout(cfg, topic, "json"))
  }

  /** RFC4180 minimal quoting as a Column (identical rule to the CSV
    * writer's: quote when delimiter/quote/CR/LF present, double embedded
    * quotes; null → empty) — the row render runs inside codegen.
    */
  private[jobs] def csvQuoteCol(c: Column): Column = {
    val s = coalesce(c, lit(""))
    when(s.rlike("[\",\n\r]"),
      concat(lit("\""), regexp_replace(s, "\"", "\"\""), lit("\"")))
      .otherwise(s)
  }

  /** A record's dedup key and rendered line over its data columns `cols`
    * (named `names`): JSON → `to_json`, keyed by the md5 of the whole
    * rendered record (A2); CSV → RFC4180-quoted fields, keyed by
    * [[csvDedupKey]] (A1). The key is "" when dedup is off.
    */
  private def keyAndLine(cfg: RestructureJobConfig, topic: String, format: String,
      names: Seq[String], cols: Seq[Column]): (Column, Column) = {
    val line =
      if (format == "json")
        to_json(struct(cols: _*), Map("ignoreNullFields" -> "false"))
      else concat_ws(",", cols.map(csvQuoteCol): _*)
    val key =
      if (!cfg.dedupEnabled(topic)) lit("")
      else if (format == "json") md5(line)
      else csvDedupKey(cfg, topic, names, cols)
    (key, line)
  }

  /** A1 CSV dedup key: md5 over the configured key projection's rendered
    * values (null ≡ "", exactly the CSV rendering the reference hashes,
    * format/CsvAvroConverterFactory.kt:30-86 + util/Md5Hasher.kt:6-21).
    * Key fields are chosen by name; `cols` are the matching values.
    */
  private def csvDedupKey(cfg: RestructureJobConfig, topic: String,
      names: Seq[String], cols: Seq[Column]): Column = {
    val distinctFields = cfg.dedupDistinctFields(topic)
    val ignoreFields = cfg.dedupIgnoreFields(topic)
    val named = names.zip(cols)
    val keys =
      if (distinctFields.nonEmpty && distinctFields.subsetOf(names.toSet))
        named.filter { case (n, _) => distinctFields(n) }
      else if (ignoreFields.nonEmpty) named.filterNot { case (n, _) => ignoreFields(n) }
      else named
    md5(concat_ws("\u0001", keys.map { case (_, c) => coalesce(c, lit("")) }: _*))
  }

  /** One exactly-named output file per bin: rows are rendered to their
    * final output line IN THE PLAN (`concat_ws` of quoted fields for CSV,
    * `to_json` for JSON — both codegen'd), shuffled once on the bin path,
    * and each task streams its bins straight to dot-prefixed temp files
    * (invisible to Spark readers) swapped atomically onto the target — the
    * K8 temp→target commit without a committer temp tree, per-file rename
    * pass, or driver-side zip repack. Renames parallelize across tasks, so
    * commit cost scales with executors instead of a driver pool. Each bin's
    * header comes from the broadcast header table by its rows' group. The
    * tasks also count the rows they take from each source file, which
    * sizes open-ended files in the ledger without a counting scan.
    */
  private def commitBins(
      spark: SparkSession, cfg: RestructureJobConfig, in: CommitInput,
      format: String, topic: String, sidecar: Option[Array[Byte]]): Committed = {
    import spark.implicits._
    // dedup runs INSIDE the writer on the already-sorted stream (A1
    // keep-last buffers one bin's survivors — the reference's own per-file
    // memory shape; A2 keep-first streams against a seen-set), so the
    // pre-shuffle dedup aggregation pass and its full-data exchange are
    // gone: rows shuffle exactly once, on the bin key
    val dedupMode =
      if (!cfg.dedupEnabled(topic)) BinWriter.DedupOff
      else if (format == "json") BinWriter.DedupKeepFirst
      else BinWriter.DedupKeepLast
    // explicit width: with plain repartition(col), AQE coalesces this tiny
    // shuffle to one partition and a single task writes every bin file
    // serially — the file-create calls, not the rows, are the bottleneck
    val prepared = in.rows
      .repartition(spark.sparkContext.defaultParallelism, col("__path"))
      .sortWithinPartitions(
        col("__path") +: in.group.toSeq :+ col(AvroRead.FileCol) :+ col(AvroRead.PosCol): _*)
      .select(col("__path"), in.group.getOrElse(lit(0)).as("__grp"), col(AvroRead.FileCol),
        in.key.as("__key"), in.line.as("__line"))
      .as[(String, Int, String, String, String)]
    val confEntries = AvroRead.fsConfEntries(spark)
    val outputRoot = cfg.outputRoot
    val gz = cfg.gzip
    val zip = cfg.zip
    val uid = cfg.localUid
    val gid = cfg.localGid
    val sidecarEntry = sidecar.map(bytes => (s"schema-$topic.json", bytes))
    // all tasks of this commit share the runId, so the stale-temp sweep can
    // distinguish a sibling's live temp from a dead run's leftover
    val runId = java.util.UUID.randomUUID().toString
    // report = count + bounded per-task sample: the stat list must not
    // ship O(bins) strings to the driver (the write itself is untouched —
    // one task writes its partition's bins either way)
    val cap = math.max(0, cfg.maxReportedPaths)
    val headers = spark.sparkContext.broadcast(in.headers.toArray)
    val parts =
      try prepared.mapPartitions { it =>
        val fileRows = scala.collection.mutable.HashMap.empty[String, Long]
        val rows = it.map { case (p, g, f, k, l) =>
          if (f.nonEmpty) fileRows.update(f, fileRows.getOrElse(f, 0L) + 1L)
          (p, g, k, l)
        }
        val out = BinWriter.writeBins(rows, outputRoot, confEntries, headers.value(_), gz, zip,
          dedupMode, uid, gid, sidecarEntry, runId)
        var n = 0L
        val sample = scala.collection.mutable.ArrayBuffer.empty[String]
        out.foreach { p => n += 1L; if (sample.length < cap) sample += p }
        Iterator.single((n, sample.toSeq, fileRows.toMap))
      }.collect()
      finally headers.destroy()
    Committed(
      WrittenBins(parts.iterator.map(_._1).sum,
        parts.iterator.flatMap(_._2).toSeq.sorted.take(cap)),
      addCounts(Map.empty, parts.iterator.flatMap(_._3)))
  }

  /** Legacy `offsets/<topic>.csv` migration on startup (reference
    * AccountantImpl.readDeprecatedOffsets:38-53 +
    * OffsetFilePersistence.kt:70-93): pre-JSON CSV offset files under the
    * output root merge into the ledger and are deleted, then the merged
    * ledger is flushed — an upgrading deployment keeps its extraction
    * history instead of re-extracting everything.
    */
  private[graft] def migrateLegacyOffsets(
      fs: FileSystem, cfg: RestructureJobConfig, ledger: OffsetRangeSet,
      store: Option[graft.ledger.LedgerStore] = None): Unit = {
    val dir = new HPath(s"${cfg.outputRoot}/offsets")
    if (!fs.exists(dir)) return
    val csvs = fs.listStatus(dir)
      .filter(st => st.isFile && st.getPath.getName.endsWith(".csv"))
    if (csvs.isEmpty) return
    csvs.foreach { st =>
      val in = fs.open(st.getPath)
      val content =
        try {
          val buf = new java.io.ByteArrayOutputStream()
          val chunk = new Array[Byte](8192)
          var n = in.read(chunk)
          while (n >= 0) { buf.write(chunk, 0, n); n = in.read(chunk) }
          new String(buf.toByteArray, "UTF-8")
        } finally in.close()
      OffsetRangeSet.addLegacyCsv(content.linesIterator, ledger)
      fs.delete(st.getPath, false)
    }
    store.fold(saveLedger(fs, cfg.ledger, ledger))(_.set(cfg.ledger, ledger.toJson))
  }

  /** Reclaim `.graft-unzip-*` temp directories orphaned by a CRASHED
    * merge/cleaner run (the in-process finally cleans them on every
    * non-crash path, and the dot-temp sweep matches only `.tmp-` names,
    * so these would otherwise live forever). One listStatus of the output
    * root per run; the age guard (`staleAgeMs`, default 1 hour — the
    * dot-temp sweep's contract) spares a concurrent instance's live temp.
    * Liveness is keyed on the NEWEST entry inside the directory, not the
    * directory's own mtime: a live unzip of a large zip store keeps
    * creating entries well past the hour, and nested writes never touch
    * the top directory's mtime — keying on the dir alone could reclaim a
    * concurrent merge's temp mid-use.
    */
  private[jobs] def sweepStaleUnzipTemps(fs: FileSystem, outputRoot: String,
      staleAgeMs: Long = 3600000L): Unit =
    try {
      val root = new HPath(outputRoot)
      if (fs.exists(root)) {
        val staleBefore = System.currentTimeMillis() - staleAgeMs
        fs.listStatus(root).foreach { st =>
          if (st.isDirectory && st.getPath.getName.startsWith(".graft-unzip-") &&
              st.getModificationTime < staleBefore) {
            // deep check only for dirs already stale by their own mtime
            // (rare: crashed or >1h-old temps). It must be RECURSIVE: unzip
            // writes leaf files several path segments down ($p.unz bin
            // paths), and creating a file updates only its immediate
            // parent's mtime — a one-level look at the top children misses
            // a live deep write and would reclaim a long-running concurrent
            // unzip mid-use. Newest FILE mtime is the liveness signal (a
            // live unzip keeps creating files).
            val newestEntry =
              try {
                var newest = st.getModificationTime
                val it = fs.listFiles(st.getPath, true)
                while (it.hasNext) newest = math.max(newest, it.next().getModificationTime)
                newest
              } catch { case _: Exception => Long.MaxValue } // unlistable → assume live
            if (newestEntry < staleBefore)
              try fs.delete(st.getPath, true) catch { case _: Exception => }
          }
        }
      }
    } catch { case _: Exception => } // reclamation is best-effort, never fails a run

  /** Serializes the cross-replica ledger read-merge-write in [[run]]'s
    * flush; '!' is illegal in Kafka topic names, so this can never collide
    * with a per-topic lock.
    */
  private[jobs] val LedgerFlushLockName = "graft!ledger-flush"

  /** TTL for [[LedgerFlushLockName]] — seconds, NOT the 24 h topic-lock
    * default: the hold is a millisecond-scale read+merge+write, so a
    * replica crashing inside it must degrade its peers to the merge-only
    * unlocked scheme for seconds (until the stale-break re-serializes the
    * flush), not for a day.
    */
  private[jobs] val LedgerFlushLockTtlMs = 15000L

  /** The lock manager [[run]]'s flush serializes through — same backend as
    * the per-topic locks, but with [[LedgerFlushLockTtlMs]]. Factored so a
    * spec can pin the wiring (the TTL a flush acquisition actually writes).
    */
  private[jobs] def flushLockManager(store: Option[graft.ledger.LedgerStore],
      cfg: RestructureJobConfig, fs: FileSystem): Option[RemoteLocks] = store match {
    case Some(s) => Some(new StoreLocks(s, cfg.redisLockPrefix, LedgerFlushLockTtlMs))
    case None => cfg.lockDir.map(d => new LockManager(fs, d, LedgerFlushLockTtlMs))
  }

  /** [[loadLedger]] for multi-instance readers: `saveLedger`'s swap is
    * atomic only under FileContext rename — the fallback is
    * delete-then-rename, leaving a window where the ledger file is MISSING
    * and a bare load would mis-read zero coverage (silent re-extraction, a
    * quieter variant of the truncating-create race saveLedger fixed). When
    * the file is absent but its parent directory exists (so a ledger HAS
    * been written before), treat the absence as transient and retry
    * briefly; first-run absence (no parent) stays an immediate empty set.
    */
  private[jobs] def loadLedgerAwaitVisible(fs: FileSystem, path: String): OffsetRangeSet = {
    val p = new HPath(path)
    // bounded: a first multi-instance run whose ledger parent pre-exists
    // (e.g. offsets.json directly under an existing output root) pays this
    // wait once per topic until the first flush creates the file
    var attempt = 0
    while (attempt < 5 && !fs.exists(p) &&
        (p.getParent != null && fs.exists(p.getParent))) {
      attempt += 1
      Thread.sleep(25)
    }
    loadLedger(fs, path)
  }

  def loadLedger(fs: FileSystem, path: String): OffsetRangeSet = {
    val p = new HPath(path)
    if (!fs.exists(p)) new OffsetRangeSet
    else {
      val in = fs.open(p)
      try {
        val buf = new java.io.ByteArrayOutputStream()
        val chunk = new Array[Byte](8192)
        var n = in.read(chunk)
        while (n >= 0) { buf.write(chunk, 0, n); n = in.read(chunk) }
        OffsetRangeSet.fromJson(new String(buf.toByteArray, "UTF-8"))
      } finally in.close()
    }
  }

  def saveLedger(fs: FileSystem, path: String, ledger: OffsetRangeSet): Unit = {
    val p = new HPath(path)
    fs.mkdirs(p.getParent)
    // write-temp-then-rename: an in-place create(p, true) truncates before
    // writing, so a concurrent reader (another replica's under-lock ledger
    // refresh — the multi-instance protocol reads this file while peers
    // flush) could see an empty/partial document and spuriously fail its
    // topic. The atomic swap makes every read see a complete old or new
    // ledger.
    val tmp = new HPath(p.getParent, s".${p.getName}.tmp-${java.util.UUID.randomUUID()}")
    val out = fs.create(tmp, true)
    try out.write(ledger.toJson.getBytes("UTF-8")) finally out.close()
    BinWriter.renameOver(fs, fs.getConf, tmp, p)
  }
}
