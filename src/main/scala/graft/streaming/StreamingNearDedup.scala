package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

import graft.operators.TextDedup

/** Cross-batch NEAR-duplicate deduplication for a document stream — the
  * streaming composition of the incremental probe operators: each
  * micro-batch is
  *
  *  1. near-deduped within itself ([[TextDedup.dedupCorpus]] — LSH →
  *     exact-Jaccard verify → connected components, at batch scale);
  *  2. probed against the accumulated history with a fused broadcast-batch
  *     LSH probe — the history side STREAMS through one row-local scan
  *     that computes its bands and shingle sets
  *     ([[TextDedup.bandTableOfSetsLocal]]), the batch bands and shingle
  *     sets broadcast; never history×history;
  *  3. candidates exact-verified by shingle Jaccard (integer
  *     cross-multiply, no float compare), matching `dedupCorpus`
  *     semantics across the batch boundary;
  *  4. survivors appended to the parquet-backed history under a
  *     `batch=<id>` directory — overwritten on replay, so retries of a
  *     micro-batch are idempotent (effectively-once history).
  *
  * State lives in the history parquet, not in Spark streaming state: the
  * shingle/LSH pipeline over history re-derives per batch, which at
  * production ratios is one linear scan (PLANS.md "Incremental-probe
  * stress": 500k-doc history probes in seconds, linear in |history|).
  * The batch side is guarded by `MaxProbeBatchRows` — an oversized
  * micro-batch fails fast with the batch-LSH alternative named.
  */
object StreamingNearDedup {

  /** One micro-batch step (also directly usable for batch ingest loops):
    * returns this batch's survivors and appends them to `historyDir`.
    *
    * `epoch` namespaces the history partition: replays of the same
    * (epoch, batchId) overwrite their own partition, while a NEW streaming
    * query (fresh checkpoint → batch ids restart at 0) must use a
    * different epoch so it cannot clobber an earlier query's partitions —
    * [[run]] derives it from the checkpoint location. The step's plans
    * run with AQE off ([[withAqeOff]]).
    */
  def dedupBatch(batch: DataFrame, batchId: Long, historyDir: String,
      idCol: String = "doc_id", textCol: String = "text",
      shingleN: Int = 3, k: Int = 12, bands: Int = 6, rowsPerBand: Int = 2,
      num: Int = 1, den: Int = 2, epoch: String = "b",
      compactEvery: Int = 16, ttlBatches: Long = 0L,
      // per-phase wall-time sink (phase name, seconds) for floor
      // attribution — a plain callback so the bench decomposes the SHIPPED
      // step instead of a re-implementation; no-op (and no cost) by default
      phaseSink: (String, Double) => Unit = (_, _) => ()): DataFrame = withAqeOff(batch.sparkSession) {
    def phase[T](name: String)(f: => T): T = {
      val t0 = System.nanoTime()
      val r = f
      phaseSink(name, (System.nanoTime() - t0) / 1e9)
      r
    }
    val partitionKey = s"$epoch-$batchId"
    val spark = batch.sparkSession
    val rows = batch.select(col(idCol), col(textCol))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    var kept: DataFrame = null
    try {
      // 1. in-batch near-dedup (keep the minimum id per duplicate cluster)
      phase("inbatch_dedup") {
        kept = rows.join(
          TextDedup.dedupCorpus(rows, idCol, textCol, shingleN, k, bands, rowsPerBand, num, den),
          Seq(idCol), "left_semi")
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        // NO eager count: the probe executes as ONE plan at the
        // localCheckpoint below, whose first scan fills this cache; a
        // concurrent consumer stage can at worst recompute the final
        // post-shuffle map stage (kept's own shuffle files are reused), while
        // the separate materializing action cost 4 scheduling round-trips
        // per batch — removing it measured ~12% off the per-batch floor at
        // micro-batch sizes and equal-or-better at full-corpus batches
        // (round-15 floor decomposition, PLANS.md)
      }

      // 2-3. probe the history; exact-verify candidates by shingle Jaccard.
      // The batch's OWN partition is excluded: on a foreachBatch replay it
      // already holds this batch's previous survivors, which would
      // self-duplicate every doc (and empty the partition on overwrite)
      val history = phase("history_list")(
        readHistory(spark, historyDir, excludeKey = Some(partitionKey),
          dataSchema = Some(rows.schema)))
      val survivors = history match {
        case None => kept
        case Some(h) =>
          // the bounded-batch contract of minhashCandidatePairsAgainst
          graft.operators.Similarity.requireProbeBatch(kept,
            graft.operators.Similarity.MaxProbeBatchRows, "probe batch",
            "for large batches run minhashCandidatePairs over the combined " +
              "corpus (bucketed self-join — never all-pairs) instead of the " +
              "broadcast probe")
          val bSetsRaw = TextDedup.distinctShingleSets(kept, idCol, textCol, shingleN)
          val bBands = TextDedup.bandTableOfSetsLocal(
            bSetsRaw, idCol, k, bands, rowsPerBand)
            .select(col("__id").as("__pbid"), col("__band_idx").as("__bband_idx"),
              col("__band_hash").as("__bband_hash"))
          val bSets = bSetsRaw.select(col(idCol).as("__bid"), col("__sh").as("__bsh"))
          // history: ONE row-local scan carrying bands + shingle set —
          // stream-side width never shuffles; it is generated and consumed
          // within the same pipelined stage. No signature groupBy
          // exchange and no second shingle-set scan. Candidates equal the
          // agg band pipeline's (bandTableOfSetsLocal ≡ bandTableOfSets,
          // spec-pinned); a pair matching on several bands verifies once
          // per matching band and the trailing distinct absorbs it.
          val hProbe = TextDedup.bandTableOfSetsLocal(
            TextDedup.distinctShingleSets(h, idCol, textCol, shingleN),
            idCol, k, bands, rowsPerBand, carryCols = Seq("__sh"))
            .withColumnRenamed("__sh", "__hsh")
          val (inter, union) = TextDedup.jaccardCounts(col("__hsh"), col("__bsh"))
          val dupIds = hProbe
            .join(broadcast(bBands),
              col("__band_idx") === col("__bband_idx") &&
              col("__band_hash") === col("__bband_hash"))
            .join(broadcast(bSets), col("__pbid") === col("__bid"))
            .filter(inter * den >= union * num) // jaccard ≥ num/den, exact
            .select(col("__bid").as(idCol)).distinct()
          kept.join(dupIds, Seq(idCol), "left_anti")
      }

      // 4. materialize ONCE (eager local checkpoint), then write the
      // checkpointed rows — write-then-checkpoint would execute the whole
      // history-probe plan twice, doubling the dominant per-batch cost.
      // The append stays idempotent: replays of a micro-batch overwrite
      // their own partition instead of double-appending. Coalesced: a
      // micro-batch's survivors are small, and at default shuffle width
      // each batch would otherwise add O(partitions) tiny files that every
      // later probe must list and open (retention mode never merges, so
      // files-per-batch is the bound there)
      val out = phase("probe_exec")(survivors.localCheckpoint(true))
      phase("commit") {
        out.coalesce(math.max(1, spark.sparkContext.defaultParallelism / 8))
          .write.mode("overwrite")
          .parquet(s"$historyDir/batch=$partitionKey")
      }
      // 5. periodic history compaction: without it the partition count (and
      // with it every later batch's probe-scan file count) grows one dir +
      // O(shuffle partitions) files PER BATCH, forever
      if (compactEvery > 0 && batchId > 0 && batchId % compactEvery == 0)
        phase("compact")(
          compactHistory(spark, historyDir, epoch, upToBatchId = batchId - 2,
            ttlBatches = ttlBatches))
      out
    } finally {
      if (kept != null) kept.unpersist(false)
      rows.unpersist(false)
    }
  }

  /** The embedding counterpart: cosine near-dup against the accumulated
    * vector history ([[graft.operators.Similarity.cosineNearDupAgainst]] —
    * batch broadcasts once, history streams through one codegen'd scan;
    * exact cosine, no verification pass needed). In-batch near-dups
    * collapse to the minimum id via the same probe run batch-vs-batch.
    */
  def dedupEmbeddingBatch(batch: DataFrame, batchId: Long, historyDir: String,
      threshold: Double = 0.95, idCol: String = "vec_id",
      vecCol: String = "embedding", epoch: String = "b",
      compactEvery: Int = 16, ttlBatches: Long = 0L): DataFrame = withAqeOff(batch.sparkSession) {
    import graft.operators.Similarity
    val partitionKey = s"$epoch-$batchId"
    val spark = batch.sparkSession
    val rows = batch.select(col(idCol), col(vecCol))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    var kept: DataFrame = null
    try {
      // in-batch: exact pairwise over the (small, broadcastable) batch;
      // min id per duplicate cluster survives, transitively
      val inPairs = Similarity.cosineNearDupAgainst(rows, rows, threshold, idCol, vecCol)
        .filter(col("history_id") < col("batch_id"))
      val clusters = Similarity.connectedComponents(
        inPairs, rows.select(col(idCol)), "history_id", "batch_id", idCol)
      kept = rows.join(
        clusters.filter(col(idCol) === col("cluster")).select(col(idCol)),
        Seq(idCol), "left_semi")
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      // no eager count — same single-plan cache-fill rationale as the text
      // path's step 1
      val survivors = readHistory(spark, historyDir, excludeKey = Some(partitionKey),
          dataSchema = Some(rows.schema)) match {
        case None => kept
        case Some(h) =>
          val dupIds = Similarity.cosineNearDupAgainst(h, kept, threshold, idCol, vecCol)
            .select(col("batch_id").as(idCol)).distinct()
          kept.join(dupIds, Seq(idCol), "left_anti")
      }
      // checkpoint-then-write: one execution of the probe plan (see the
      // text path's comment)
      val out = survivors.localCheckpoint(true)
      out.coalesce(math.max(1, spark.sparkContext.defaultParallelism / 8))
        .write.mode("overwrite").parquet(s"$historyDir/batch=$partitionKey")
      if (compactEvery > 0 && batchId > 0 && batchId % compactEvery == 0)
        compactHistory(spark, historyDir, epoch, upToBatchId = batchId - 2,
          ttlBatches = ttlBatches)
      out
    } finally {
      // a failed probe/write must release the cache too: streaming retries
      // the batch and would otherwise stack a fresh copy per attempt
      if (kept != null) kept.unpersist(false)
      rows.unpersist(false)
    }
  }

  /** Merge finalized history partitions of `epoch` into one consolidated
    * `batch=<epoch>-c<watermark>` partition, bounding the partition-dir and
    * file count the per-batch probe has to list and scan: steady state is
    * one consolidated partition plus at most `compactEvery` fresh ones,
    * instead of one per batch forever.
    *
    * Only batches with id ≤ `upToBatchId` are absorbed (callers pass
    * `batchId - 2`, keeping the replayable tail of the stream out of the
    * merge — a foreachBatch replay overwrites its OWN `batch=` partition,
    * which therefore must not have been folded into a consolidated one).
    * Earlier consolidated partitions are re-absorbed each time. Foreign
    * epochs are left untouched (their replay status is unknowable here).
    *
    * Crash safety: the consolidated partition is written BEFORE the
    * absorbed ones are deleted, so a crash in between leaves duplicate
    * history rows — which only re-assert the same duplicate verdicts —
    * never lost history. The rare crash-retry collision (target name
    * already among the sources) materializes the merge first.
    *
    * `ttlBatches` > 0 switches to RETENTION mode: partitions older than
    * `upToBatchId - ttlBatches` are DROPPED and the remainder stays
    * UN-consolidated — merging would fold young partitions into an
    * age-less consolidated blob that can never expire, so with any ttl ≥
    * compactEvery nothing would ever be dropped. In retention mode the
    * partition count is bounded by the TTL window itself (≤ ttl + the
    * replayable tail) and `targetPartitions` is unused (nothing merges);
    * files-per-partition is bounded at WRITE time by the per-batch
    * coalesce in the dedup steps. History bytes stay bounded at the
    * documented cost that a duplicate of a dropped-era document re-enters
    * the corpus. Pre-existing consolidated partitions (from before TTL was
    * enabled) are left untouched: their ages are unknowable, so dropping
    * them would silently lose in-window history.
    */
  def compactHistory(spark: SparkSession, historyDir: String, epoch: String,
      upToBatchId: Long, targetPartitions: Int = 0, ttlBatches: Long = 0L): Unit = {
    val root = new org.apache.hadoop.fs.Path(historyDir)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(root)) return
    val prefix = s"batch=$epoch-"
    val parts = fs.listStatus(root).filter(_.isDirectory).map(_.getPath.getName)
      .filter(_.startsWith(prefix))
      .flatMap { n =>
        val suffix = n.stripPrefix(prefix)
        if (suffix.startsWith("c")) suffix.drop(1).toLongOption.map(id => (n, id, true))
        else suffix.toLongOption.filter(_ <= upToBatchId).map(id => (n, id, false))
      }
    if (ttlBatches > 0) {
      // retention mode: expire, never consolidate (see scaladoc)
      parts.foreach { case (n, id, consolidated) =>
        if (!consolidated && id < upToBatchId - ttlBatches)
          fs.delete(new org.apache.hadoop.fs.Path(s"$historyDir/$n"), true)
      }
      return
    }
    val live = parts
    if (live.length < 2) return
    val newDirName = s"batch=$epoch-c${live.map(_._2).max}"
    val merged0 = spark.read.parquet(live.toIndexedSeq.map(p => s"$historyDir/${p._1}"): _*)
    val merged =
      if (live.exists(_._1 == newDirName)) merged0.localCheckpoint(true) // self-overwrite guard
      else merged0
    val sized =
      if (targetPartitions > 0) merged.coalesce(targetPartitions)
      else merged.coalesce(math.max(1, spark.sparkContext.defaultParallelism))
    sized.write.mode("overwrite").parquet(s"$historyDir/$newDirName")
    live.filter(_._1 != newDirName).foreach { case (n, _, _) =>
      fs.delete(new org.apache.hadoop.fs.Path(s"$historyDir/$n"), true)
    }
  }

  /** Streaming driver for [[dedupEmbeddingBatch]]. */
  def runEmbedding(vecs: DataFrame, historyDir: String, checkpointDir: String,
      threshold: Double = 0.95, idCol: String = "vec_id",
      vecCol: String = "embedding",
      compactEvery: Int = 16, ttlBatches: Long = 0L): StreamingQuery = {
    val epoch = f"ck${checkpointDir.hashCode & 0x7fffffff}%x"
    vecs.writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        dedupEmbeddingBatch(batch, batchId, historyDir, threshold, idCol, vecCol, epoch,
          compactEvery, ttlBatches)
        ()
      }
      .start()
  }

  /** Per-session count of the steps inside [[withAqeOff]]: the first
    * entrant saves the session's AQE value, the last one out restores it.
    * Weak keys, so the map never pins a SparkSession.
    */
  private final class AqeOff {
    var depth = 0
    var saved: String = _
  }
  private val aqeOff: java.util.Map[SparkSession, AqeOff] =
    java.util.Collections.synchronizedMap(
      new java.util.WeakHashMap[SparkSession, AqeOff]())

  /** Run a synchronous step with AQE off, then restore the session's value.
    * Every broadcast in the probe is EXPLICIT, the batch side is bounded by
    * contract, and the hot-bucket collapse guard (not runtime skew-join) is
    * the in-batch skew protection — so AQE's only contribution per
    * micro-batch is one scheduled JOB PER EXCHANGE, and the per-job
    * scheduling floor is the measured per-batch bottleneck (round-15
    * decomposition: ~33 jobs × ~55 ms; with AQE off 34.4 → 13.4
    * jobs/batch and -36% full-corpus loop wall, PLANS.md).
    *
    * The step's returned frames are MATERIALIZED inside (localCheckpoint +
    * parquet commit), so nothing escapes that would execute under the
    * restored conf. Session-scoped by nature: an unrelated interactive
    * query on the same session during a step sees the override. Concurrent
    * steps on one session (a text `run` and an embedding `runEmbedding`
    * stream sharing a session — each stream's own foreachBatch is serial,
    * but two streams are not) share one reference-counted set/restore, so
    * a step never sees a sibling's restore mid-run.
    */
  private[streaming] def withAqeOff[T](spark: SparkSession)(f: => T): T = {
    val key = "spark.sql.adaptive.enabled"
    val g = aqeOff.computeIfAbsent(spark, _ => new AqeOff)
    g.synchronized {
      if (g.depth == 0) {
        g.saved = spark.conf.get(key, "true")
        spark.conf.set(key, "false")
      }
      g.depth += 1
    }
    try f
    finally g.synchronized {
      g.depth -= 1
      if (g.depth == 0) spark.conf.set(key, g.saved)
    }
  }

  private[streaming] def readHistory(spark: SparkSession, historyDir: String,
      excludeKey: Option[String] = None,
      dataSchema: Option[org.apache.spark.sql.types.StructType] = None): Option[DataFrame] = {
    val p = new org.apache.hadoop.fs.Path(historyDir)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(p) || fs.listStatus(p).isEmpty) None
    else {
      // partition discovery surfaces `batch=<key>` as a column; the filter
      // partition-prunes (never lists the excluded directory's files).
      // An explicit data schema (the per-batch callers know it — history
      // rows are prior batches' survivors) skips the footer-inference job
      // Spark otherwise schedules per batch; the `batch` partition column
      // is discovered and appended either way.
      val reader = dataSchema.fold(spark.read)(s => spark.read.schema(s))
      val all = reader.parquet(historyDir)
      val pruned = excludeKey.fold(all)(key => all.filter(col("batch") =!= key))
      Some(pruned.drop("batch"))
    }
  }

  /** The streaming driver: foreachBatch over a document stream. Survivors
    * accumulate in `historyDir`; the returned query is the handle.
    */
  def run(docs: DataFrame, historyDir: String, checkpointDir: String,
      idCol: String = "doc_id", textCol: String = "text",
      shingleN: Int = 3, k: Int = 12, bands: Int = 6, rowsPerBand: Int = 2,
      num: Int = 1, den: Int = 2,
      compactEvery: Int = 16, ttlBatches: Long = 0L): StreamingQuery = {
    // stable per-checkpoint epoch: a restart FROM this checkpoint replays
    // into the same partitions (idempotent); a fresh checkpoint gets its
    // own namespace and cannot clobber earlier epochs' history
    val epoch = f"ck${checkpointDir.hashCode & 0x7fffffff}%x"
    docs.writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        dedupBatch(batch, batchId, historyDir, idCol, textCol,
          shingleN, k, bands, rowsPerBand, num, den, epoch,
          compactEvery, ttlBatches)
        ()
      }
      .start()
  }
}
