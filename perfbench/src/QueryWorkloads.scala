package perfbench

import java.nio.file.{Files, Path}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._

import graft.SparkEntry
import graft.streaming.StreamingNearDedup

/** Which graft module each `SparkEntry.queries` entry exercises, for the
  * `operators.*`, `functions.*` and `SparkEntry.*` layer sums. A query goes
  * to the first operator module it calls (in the order below), else to
  * `functions.GraftExpressions` when its work is a graft kernel or text
  * function, else to `SparkEntry.relational` (plain Spark operators).
  */
object QueryModules {
  val Groups: Seq[(String, Seq[String])] = Seq(
    "operators.TextDedup" -> Seq("q_contamination", "q_corpus_dedup", "q_decontam_mask",
      "q_dedup_quality", "q_incremental_dedup", "q_mask_spans", "q_minhash_calib",
      "q_minhash_pairs", "q_ngram_jaccard", "q_repeated_spans", "q_simhash", "q_simhash_pairs",
      "q_source_overlap", "q_spans_chunked", "q_split_leakfree"),
    "operators.Similarity" -> Seq("q_ann_recall", "q_cluster_sizes", "q_cosine_topk",
      "q_dedup_cluster", "q_embedding_incremental", "q_embedding_neardup", "q_ivf_probe",
      "q_ivf_topk", "q_ivfpq_topk", "q_kmeans_step", "q_pq_encode", "q_pq_topk"),
    "operators.TextLm" -> Seq("q_bigram_logprob", "q_tfidf", "q_tfidf_joinshape",
      "q_unigram_bcast", "q_unigram_logprob"),
    "operators.Multimodal" -> Seq("q_media_features", "q_multimodal_meta", "q_vocab_coverage"),
    "operators.TemporalJoin" -> Seq("q_asof_forward", "q_asof_join", "q_range_join"),
    "operators.Dedup" -> Seq("q_bloom_dedup", "q_dedup_keep_first", "q_dedup_keep_last"),
    "functions.GraftExpressions" -> Seq("q_bpe_pairs", "q_cdc_chunks", "q_chunk_dedup",
      "q_chunk_windows", "q_dedup_exact", "q_doc_fingerprint", "q_doc_freq", "q_domain_mix",
      "q_epoch_shuffle", "q_lang_id", "q_power_iter", "q_quality_score", "q_quota_sample",
      "q_repetition", "q_rolling_hash", "q_seq_pack", "q_shard_balance", "q_text_stats",
      "q_token_freq", "q_top_docs", "q_zorder"),
    "SparkEntry.relational" -> Seq("q_agg_pricing", "q_anti_join", "q_doc_histogram",
      "q_enrich_broadcast", "q_exclude_fields", "q_flatten_nested", "q_interval_merge",
      "q_length_quantiles", "q_offset_parse", "q_path_routing", "q_quantize", "q_redact",
      "q_sample_mix", "q_sanitize_id", "q_semi_join", "q_sessionize", "q_source_temperature",
      "q_time_binning", "q_time_extract", "q_top_orders", "q_union_resolve"))

  val byQuery: Map[String, String] = Groups.flatMap { case (m, qs) => qs.map(_ -> m) }.toMap
}

/** Running `SparkEntry.queries` entries the way the query workloads time
  * them: caches dropped before each query, every output column computed by
  * the noop sink.
  */
object QueryRunner {
  def dropCaches(spark: SparkSession): Unit = {
    spark.catalog.clearCache()
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(true))
  }

  def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()

  /** Untimed pass that primes codegen and JIT and writes each result as
    * parquet for the oracle comparison, plus the oracle SQL beside it.
    */
  def warmAndDump(ctx: Ctx, tables: String, names: Seq[String], out: Path): Unit = {
    names.foreach { n =>
      dropCaches(ctx.spark)
      ctx.report.op(s"warm-up query $n")(SparkEntry.queries(n)(ctx.spark, tables)
        .write.mode("overwrite").parquet(out.resolve(n).toString))
    }
    val sql = SparkEntry.oracleSql
    Files.writeString(out.resolve("oracle_sql.json"), Json.render(names.map(n => n -> sql(n)).toMap))
  }

  /** One timed sweep; returns seconds per query that succeeded. */
  def sweep(ctx: Ctx, tables: String, names: Seq[String]): Seq[(String, Double)] =
    names.flatMap { n =>
      dropCaches(ctx.spark)
      ctx.report.op(s"query $n")(Trace.span(s"query.$n")(noop(SparkEntry.queries(n)(ctx.spark, tables))))
        .map { case (_, s) => n -> s }
    }

  /** Each query's samples over the sweeps. */
  def samples(sweeps: Seq[Seq[(String, Double)]]): Map[String, Seq[Double]] =
    sweeps.flatten.groupBy(_._1).map { case (n, xs) => n -> xs.map(_._2) }

  /** Per-query medians over sweeps; `operators.*` and friends sum them by
    * module.
    */
  def summarize(sweeps: Seq[Seq[(String, Double)]]): Map[String, Double] =
    samples(sweeps).map { case (n, xs) => n -> Stats.median(xs) }

  def moduleSums(perQuery: Map[String, Double]): Map[String, Double] =
    QueryModules.Groups.map { case (m, _) =>
      s"${m}_s" -> perQuery.filter { case (q, _) => QueryModules.byQuery.get(q).contains(m) }.values.sum
    }.toMap
}

/** `queries`: the MinHash / connected-components query family, one query
  * of every other graft module, and the streaming near-dedup loop, over one
  * seeded corpus.
  */
object Queries {
  val DedupFamily = Seq("q_corpus_dedup", "q_minhash_pairs", "q_dedup_quality", "q_minhash_calib",
    "q_split_leakfree", "q_cluster_sizes", "q_dedup_cluster")
  val Mix = Seq("q_tfidf", "q_media_features", "q_asof_join", "q_dedup_keep_last",
    "q_text_stats", "q_sessionize")
  val All: Seq[String] = DedupFamily ++ Mix
  val Tables = Set("documents", "embeddings", "events")
  val Ratio = 0.1
  val BatchDocs = 100
  val BatchesPerPass = 4
  val MinSweeps = 3

  final class State(val tables: String, val docs: Array[Row], val schema: org.apache.spark.sql.types.StructType)

  def setup(ctx: Ctx): State = {
    val tables = ctx.work.resolve("tables").toString
    CorpusGen.generate(ctx.spark, tables, Ratio, ctx.seed, Tables)
    ctx.report.stamp("generated")
    QueryRunner.warmAndDump(ctx, tables, All, Files.createDirectories(ctx.work.resolve("results")))
    ctx.report.stamp("warm sweep")
    val docsDf = graft.Tables.load(ctx.spark, tables, "documents").select("doc_id", "text").orderBy("doc_id")
    new State(tables, docsDf.collect(), docsDf.schema)
  }

  final case class Pass(batchSec: Seq[Double], phases: Map[String, Double], jobs: Long,
      fed: Int, survived: Int)

  /** Feed the corpus in doc_id order, `BatchDocs` per micro-batch, through
    * `dedupBatch` against a fresh history; checks the survivors.
    */
  def streamPass(ctx: Ctx, st: State, history: Path, stats: Option[SparkStats] = None): Pass = {
    val spark = ctx.spark
    val times = mutable.ArrayBuffer.empty[Double]
    val phases = mutable.Map.empty[String, Double].withDefaultValue(0.0)
    val survivors = mutable.ArrayBuffer.empty[(Long, Int)]
    var jobs = 0L
    val n = math.min(BatchesPerPass, st.docs.length / BatchDocs)
    (0 until n).foreach { b =>
      val rows = st.docs.slice(b * BatchDocs, (b + 1) * BatchDocs)
      val batch = spark.createDataFrame(rows.toSeq.asJava, st.schema)
      val sink: (String, Double) => Unit = (k, s) => phases(k) += s
      // the listener counts only inside `op`, which settles it at the end
      val jobs0 = stats.map(_.jobs.get).getOrElse(0L)
      val r = ctx.report.op(s"stream batch $b")(Trace.span("streaming.dedupBatch")(
        StreamingNearDedup.dedupBatch(batch, b.toLong, history.toString, phaseSink = sink)))
      stats.foreach(s => jobs += s.jobs.get - jobs0)
      r.foreach { case (out, sec) =>
        times += sec
        out.select(col("doc_id")).collect().foreach(x => survivors += ((x.getLong(0), b)))
      }
    }
    Heap.sample()
    ctx.report.check(s"stream survivors ${history.getFileName}", checkSurvivors(st, n, survivors.toSeq))
    FileTree.deleteTree(history)
    Pass(times.toSeq, phases.toMap, jobs, n * BatchDocs, survivors.size)
  }

  /** Survivor ids are unique and fed; a verbatim copy of an earlier
    * document never survives when that document survived an earlier batch
    * or arrived in the same batch.
    */
  def checkSurvivors(st: State, batches: Int, survivors: Seq[(Long, Int)]): Seq[String] = {
    val errors = mutable.ArrayBuffer.empty[String]
    val fed = st.docs.take(batches * BatchDocs).zipWithIndex.map { case (r, i) =>
      r.getLong(0) -> (r.getString(1), i / BatchDocs)
    }.toMap
    val surv = survivors.groupBy(_._1)
    surv.filter(_._2.size > 1).keys.take(10).foreach(id => errors += s"doc $id survived more than once")
    surv.keys.filterNot(fed.contains).take(10).foreach(id => errors += s"survivor $id was never fed")
    val firstByText = mutable.Map.empty[String, (Long, Int)]
    fed.toSeq.sortBy(_._1).foreach { case (id, (text, b)) =>
      firstByText.get(text) match {
        case Some((orig, ob)) if surv.contains(id) && (ob == b || surv.contains(orig) && ob < b) =>
          errors += s"doc $id (copy of $orig, batch $ob) survived in batch $b"
        case Some(_) =>
        case None => firstByText(text) = (id, b)
      }
    }
    errors.toSeq
  }

  def measure(ctx: Ctx, st: State): Unit = {
    val r = ctx.report
    final class Mode {
      val sweeps = mutable.ArrayBuffer.empty[Seq[(String, Double)]]
      val passes = mutable.ArrayBuffer.empty[Pass]
    }
    val modes = Map(false -> new Mode, true -> new Mode)
    // the sweeps are the end-to-end metrics: at least three per run, so
    // each query's median rests on three samples; the stream pass is per
    // layer only, and one per mode after the sweeps. Its first batch also
    // warms the stream path up; the batch median is robust to it.
    ctx.loop(minEach = MinSweeps) { traced => modes(traced).sweeps += QueryRunner.sweep(ctx, st.tables, All) }
    Heap.sample()
    ctx.loop(minEach = 1, forSeconds = 0) { traced =>
      modes(traced).passes += streamPass(ctx, st, ctx.work.resolve(s"history-$traced"),
        stats = if (traced) Some(ctx.stats) else None)
    }
    val u = modes(false)
    val perQuery = QueryRunner.summarize(u.sweeps.toSeq)
    val batchSec = u.passes.flatMap(_.batchSec).toSeq
    if (perQuery.size != All.size || batchSec.isEmpty) return
    val suite = perQuery.values.sum
    // the typical query's latency, over all 13: stream batches moved with
    // the host's I/O state two to three times as much as the CPU-bound
    // sweep, so the stream loop is reported per layer (`stream_batch_p50_s`)
    r.endToEnd("latency_s") = Stats.geomean(perQuery.values.toSeq)
    r.endToEnd("throughput_per_s") = All.size / suite
    r.detail("queries_s") = QueryRunner.samples(u.sweeps.toSeq).map { case (n, xs) => n -> Stats.detail(xs) }
    r.detail("sweeps") = u.sweeps.size
    r.detail("stream_batch_s") = Stats.detail(batchSec)
    r.detail("input") = Map("documents" -> st.docs.length, "ratio_vs_sf0.1" -> Ratio,
      "batch_docs" -> BatchDocs, "batches_per_pass" -> BatchesPerPass, "min_sweeps" -> MinSweeps,
      "exact_copy_share" -> CorpusGen.ExactShare)
    r.layer("dedup_suite_s") = DedupFamily.map(perQuery).sum
    r.layer("query_suite_s") = suite
    r.layer("query_geomean_s") = Stats.geomean(perQuery.values.toSeq)
    r.layer("stream_batch_p50_s") = Stats.median(batchSec)
    r.layer("stream_records_per_s") =
      Stats.median(u.passes.filter(_.batchSec.nonEmpty).map(p => p.fed / p.batchSec.sum).toSeq)
    val t = modes(true)
    if (ctx.trace && t.sweeps.nonEmpty) {
      r.layer ++= ctx.stats.layerMetrics
      val tq = QueryRunner.summarize(t.sweeps.toSeq)
      DedupFamily.foreach(q => r.layer(s"query.${q}_s") = tq.getOrElse(q, 0.0))
      r.layer ++= QueryRunner.moduleSums(tq)
      val nb = t.passes.map(_.batchSec.size).sum.toDouble
      val tBatch = t.passes.flatMap(_.batchSec).sum
      def ph(k: String) = t.passes.map(_.phases.getOrElse(k, 0.0)).sum
      val named = Seq("inbatch_dedup", "history_list", "probe_exec", "commit")
      named.foreach(k => r.layer(s"streaming.${k}_s") = ph(k) / nb)
      r.layer("streaming.other_s") = (tBatch - named.map(ph).sum) / nb
      r.layer("streaming.jobs_per_batch") = t.passes.map(_.jobs).sum / nb
      r.layer("streaming.survivor_ratio") = t.passes.map(_.survived).sum.toDouble / t.passes.map(_.fed).sum
      val tBatchMed = Stats.median(t.passes.flatMap(_.batchSec).toSeq)
      r.layer("trace.overhead_ratio") = (tq.values.sum + BatchesPerPass * tBatchMed) /
        (suite + BatchesPerPass * Stats.median(batchSec)) - 1
    }
  }
}
