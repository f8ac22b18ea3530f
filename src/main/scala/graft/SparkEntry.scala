package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.model.Flatten
import graft.operators.Dedup
import graft.paths.PathTemplate
import graft.sources.TopicFiles
import graft.time.TimeExtract

/** Driver contract — one `queries` entry per implemented operator from
  * SURVEY.md §2, each with a DuckDB oracle in `oracleSql`.
  *
  * Numeric-determinism policy for oracle parity: aggregated doubles are
  * converted to exact integer cents (`round(x*100)::bigint`) BEFORE the sum,
  * so results are associative and bit-identical regardless of partial-agg
  * order; passthrough doubles (untouched source values, min/max) are emitted
  * raw; timestamps are emitted as formatted strings (micro truncation matches
  * DuckDB `%f`).
  *
  * Oracle typing rule: every DuckDB `sum(BIGINT)` — aggregate OR window —
  * must be wrapped in `CAST(... AS BIGINT)`. DuckDB widens those sums to
  * HUGEINT, which pandas renders as float64 (`3.0` vs Spark's `3`), failing
  * the driver's value-hash even though numeric equality holds. The local
  * check (tools/check_oracle.py) fails on int/float dtype-kind mismatches
  * for the same reason.
  */
object SparkEntry {

  /** Flagship query on sf=0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    queries("q_agg_pricing")(spark, "/root/testdata/sf0.001")

  private def t(name: String)(implicit spark: SparkSession, sfDir: String): DataFrame =
    Tables.load(spark, sfDir, name)

  private def cents(c: Column): Column = round(c * 100).cast(LongType)

  // ---------------------------------------------------------------- queries

  private def qAggPricing(implicit s: SparkSession, d: String): DataFrame =
    t("lineitem")
      .groupBy(col("l_returnflag"), col("l_linestatus"))
      .agg(
        count(lit(1)).as("n_rows"),
        sum(cents(col("l_quantity"))).as("sum_qty_cents"),
        sum(cents(col("l_extendedprice") * (lit(1) - col("l_discount")))).as("revenue_cents"),
        min(col("l_extendedprice")).as("min_price"),
        max(col("l_extendedprice")).as("max_price"))
      .orderBy(col("l_returnflag"), col("l_linestatus"))

  /** G9 hourly time binning (path/FixedPathFormatterPlugin.kt:26-35). */
  private def qTimeBinning(implicit s: SparkSession, d: String): DataFrame =
    t("events")
      .withColumn("bin", date_format(col("ts"), "yyyyMMdd_HH00"))
      .groupBy(col("bin"), col("event_type"))
      .agg(count(lit(1)).as("n"), sum(cents(col("value"))).as("sum_value_cents"))
      .orderBy(col("bin"), col("event_type"))

  /** §1.4 prioritized time-extraction chain as a single coalesce column. */
  private def qTimeExtract(implicit s: SparkSession, d: String): DataFrame = {
    val nested = t("events").select(
      col("event_id"),
      struct(
        when(col("event_type") === "purchase", col("value")).as("time"),
        col("ts").cast(DoubleType).as("timeReceived")).as("value"))
    val time = TimeExtract.timeColumn(nested.schema)
    nested
      .select(col("event_id"), floor(time * 1e6).cast(LongType).as("extracted_us"))
      .orderBy(col("event_id"))
  }

  /** G1-G3 record→path routing through the compiled template expression. */
  private def qPathRouting(implicit s: SparkSession, d: String): DataFrame = {
    val ev = t("events")
    val epochSec = col("ts").cast(DoubleType)
    val params = Map(
      "projectId" -> concat(lit("p"), (col("user_id") % 4).cast(StringType)),
      "userId"    -> concat(lit("u"), col("user_id").cast(StringType)),
      "topic"     -> PathTemplate.sanitizeId(col("event_type"), "unknown-topic"),
      "filename"  -> concat(TimeExtract.timeBin(epochSec), lit(".csv")))
    val path = PathTemplate.compile(PathTemplate.defaultTemplate, params)
    ev.withColumn("path", path)
      .groupBy(col("path"))
      .agg(count(lit(1)).as("n_records"),
        min(col("event_id")).as("min_event"),
        max(col("event_id")).as("max_event"))
      .orderBy(col("path"))
  }

  /** P7 id sanitization (path/RecordPathFactory.kt:119-125). */
  private def qSanitizeId(implicit s: SparkSession, d: String): DataFrame =
    t("part")
      .select(col("p_partkey"),
        PathTemplate.sanitizeId(col("p_name"), "unknown-part").as("clean_name"))
      .orderBy(col("p_partkey"))

  /** A1 keep-last dedup (format/CsvAvroConverterFactory.kt:30-86). */
  private def qDedupKeepLast(implicit s: SparkSession, d: String): DataFrame =
    Dedup.keepLast(t("events"), Seq(col("user_id"), col("event_type")), col("event_id"))
      .select(col("user_id"), col("event_type"), col("event_id").as("last_event_id"), col("value"))
      .orderBy(col("user_id"), col("event_type"))

  /** A2 keep-first dedup (format/RecordConverterFactory.kt:63-92). */
  private def qDedupKeepFirst(implicit s: SparkSession, d: String): DataFrame =
    Dedup.keepFirst(t("events"), Seq(col("user_id"), col("event_type")), col("event_id"))
      .select(col("user_id"), col("event_type"), col("event_id").as("first_event_id"), col("value"))
      .orderBy(col("user_id"), col("event_type"))

  /** G6 enrichment lookup as broadcast joins (path/MPPathFormatterPlugin.kt). */
  private def qEnrichBroadcast(implicit s: SparkSession, d: String): DataFrame =
    t("customer")
      .join(broadcast(t("nation")), col("c_nationkey") === col("n_nationkey"))
      .join(broadcast(t("region")), col("n_regionkey") === col("r_regionkey"))
      .groupBy(col("r_name"), col("n_name"))
      .agg(count(lit(1)).as("n_customers"), sum(cents(col("c_acctbal"))).as("sum_bal_cents"))
      .orderBy(col("r_name"), col("n_name"))

  /** TPC-H Q3-shaped three-table join: revenue top-10 of a market segment's
    * orders. customer filter → join orders (big-big: shuffle/AQE decides) →
    * join lineitem → cents-exact revenue agg → top-N. The multi-join plan
    * the optimizer, not the query author, schedules.
    */
  private def qTopOrders(implicit s: SparkSession, d: String): DataFrame =
    t("customer").filter(col("c_mktsegment") === "BUILDING")
      .join(t("orders"), col("c_custkey") === col("o_custkey"))
      .join(t("lineitem"), col("o_orderkey") === col("l_orderkey"))
      .groupBy(col("o_orderkey"),
        date_format(col("o_orderdate"), "yyyy-MM-dd").as("order_date"))
      .agg(sum(cents(col("l_extendedprice") * (lit(1) - col("l_discount")))).as("revenue_cents"))
      .orderBy(col("revenue_cents").desc, col("o_orderkey").asc)
      .limit(10)

  /** Exact rank-based quantiles (percentile_disc-style: element at
    * ceil(q·n), deterministic ties by id) of document length per language —
    * engine-independent, unlike interpolated percentiles.
    */
  private def qLengthQuantiles(implicit s: SparkSession, d: String): DataFrame = {
    val w = Window.partitionBy(col("lang")).orderBy(col("n_chars"), col("doc_id"))
    val ranked = t("documents")
      .select(col("lang"), col("doc_id"), length(col("text")).cast(LongType).as("n_chars"))
      .withColumn("rn", row_number().over(w))
      .withColumn("cnt", count(lit(1)).over(Window.partitionBy(col("lang"))))
    ranked
      .groupBy(col("lang"))
      .agg(
        max(when(col("rn") === ceil(col("cnt") * 0.5), col("n_chars"))).as("p50_chars"),
        max(when(col("rn") === ceil(col("cnt") * 0.9), col("n_chars"))).as("p90_chars"),
        max(col("cnt")).as("n_docs"))
      .orderBy(col("lang"))
  }

  /** A3 record-containment as left-semi join. */
  private def qSemiJoin(implicit s: SparkSession, d: String): DataFrame =
    t("orders")
      .join(t("lineitem"), col("o_orderkey") === col("l_orderkey"), "left_semi")
      .groupBy(col("o_orderstatus"))
      .agg(count(lit(1)).as("n"))
      .orderBy(col("o_orderstatus"))

  /** A4/C2 extraction-verification as left-anti join: customers with no
    * fulfilled (`F`) order — the "not yet extracted" set.
    */
  private def qAntiJoin(implicit s: SparkSession, d: String): DataFrame =
    t("customer")
      .join(t("orders").filter(col("o_orderstatus") === "F"),
        col("c_custkey") === col("o_custkey"), "left_anti")
      .select(col("c_custkey"), col("c_mktsegment"))
      .orderBy(col("c_custkey"))

  /** P1 recursive struct flatten to dot-named columns. */
  private def qFlattenNested(implicit s: SparkSession, d: String): DataFrame = {
    val li = t("lineitem").filter(col("l_orderkey") < 1000)
    val nested = li.select(
      struct(col("l_orderkey"), col("l_linenumber")).as("key"),
      struct(col("l_partkey"), col("l_suppkey"), col("l_quantity"),
        col("l_extendedprice"), col("l_returnflag")).as("value"))
    Flatten.flatten(nested)
      .orderBy(col("`key.l_orderkey`"), col("`key.l_linenumber`"))
  }

  /** S8 `topic+partition+from[+to].avro` filename parsing. */
  private def qOffsetParse(implicit s: SparkSession, d: String): DataFrame = {
    val fname = concat(
      col("event_type"), lit("+"), (col("user_id") % 8).cast(StringType), lit("+"),
      lpad(col("event_id").cast(StringType), 10, "0"), lit(".avro"))
    t("events")
      .withColumn("fname", fname)
      .select(
        TopicFiles.topicCol(col("fname")).as("topic"),
        TopicFiles.partitionCol(col("fname")).as("partition"),
        TopicFiles.fromOffsetCol(col("fname")).as("from_offset"))
      .groupBy(col("topic"), col("partition"))
      .agg(count(lit(1)).as("n_files"),
        min(col("from_offset")).as("min_offset"),
        max(col("from_offset")).as("max_offset"))
      .orderBy(col("topic"), col("partition"))
  }

  /** A5 distributed offset-interval merge (gaps-and-islands). */
  private def qIntervalMerge(implicit s: SparkSession, d: String): DataFrame = {
    val w = Window.partitionBy(col("user_id")).orderBy(col("event_id"))
    val prev = lag(col("event_id"), 1).over(w)
    val brk = when(prev.isNull || (col("event_id") - prev) > 1, 1).otherwise(0)
    t("events")
      .withColumn("brk", brk)
      .withColumn("island",
        sum(col("brk")).over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy(col("user_id"), col("island"))
      .agg(min(col("event_id")).as("from_offset"), max(col("event_id")).as("to_offset"))
      .select(col("user_id"), col("from_offset"), col("to_offset"))
      .orderBy(col("user_id"), col("from_offset"))
  }

  /** Gap-based sessionization: per-user sessions split on >30 min event
    * gaps — the windows are user-partitioned (no global sort) and the gap
    * comparison is exact integer micros, so session boundaries are
    * engine-independent.
    */
  private def qSessionize(implicit s: SparkSession, d: String): DataFrame = {
    val w = Window.partitionBy(col("user_id")).orderBy(col("us"), col("event_id"))
    val prev = lag(col("us"), 1).over(w)
    val brk = when(prev.isNull || col("us") - prev > 1800L * 1000000L, 1).otherwise(0)
    t("events")
      .select(col("user_id"), col("event_id"), unix_micros(col("ts")).as("us"))
      .withColumn("__brk", brk)
      .withColumn("session_id",
        sum(col("__brk")).over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow))
          .cast(LongType))
      .groupBy(col("user_id"), col("session_id"))
      .agg(count(lit(1)).as("n_events"),
        min(col("us")).as("start_us"), max(col("us")).as("end_us"))
      .orderBy(col("user_id"), col("session_id"))
  }

  /** As-of join (most recent prior-or-same purchase per click, per user) —
    * the union-tag-window shape: one shuffle on the key, one sort, a
    * running last(ignoreNulls); no join node, no hot-key pair blow-up
    * (oracle: DuckDB's native ASOF JOIN).
    */
  private def qAsofJoin(implicit s: SparkSession, d: String): DataFrame = {
    val ev = t("events").select(col("event_id"), col("user_id"), col("event_type"),
      unix_micros(col("ts")).as("us"), col("value"))
    val clicks = ev.filter(col("event_type") === "click")
      .select(col("event_id"), col("user_id"), col("us"))
    // duplicate purchase timestamps per user collapse to the greatest
    // event_id (deterministic on both engines)
    val purchases = ev.filter(col("event_type") === "purchase")
      .groupBy(col("user_id"), col("us").as("p_us"))
      .agg(max(struct(col("event_id"), col("value"))).as("__m"))
      .select(col("user_id"), col("p_us"),
        col("__m.event_id").as("p_event_id"), col("__m.value").as("p_value"))
    graft.operators.TemporalJoin.asofJoin(
      clicks, purchases, Seq("user_id"), "us", "p_us", Seq("p_event_id", "p_value"))
      .orderBy(col("event_id"))
  }

  /** Forward as-of join: each click's EARLIEST same-or-later purchase per
    * user (merge_asof direction="forward") — same union-tag-window plan
    * over negated times.
    */
  private def qAsofForward(implicit s: SparkSession, d: String): DataFrame = {
    val ev = t("events").select(col("event_id"), col("user_id"), col("event_type"),
      unix_micros(col("ts")).as("us"), col("value"))
    val clicks = ev.filter(col("event_type") === "click")
      .select(col("event_id"), col("user_id"), col("us"))
    val purchases = ev.filter(col("event_type") === "purchase")
      .groupBy(col("user_id"), col("us").as("p_us"))
      .agg(max(struct(col("event_id"), col("value"))).as("__m"))
      .select(col("user_id"), col("p_us"),
        col("__m.event_id").as("p_event_id"), col("__m.value").as("p_value"))
    graft.operators.TemporalJoin.asofJoinForward(
      clicks, purchases, Seq("user_id"), "us", "p_us", Seq("p_event_id", "p_value"))
      .orderBy(col("event_id"))
  }

  /** Point-in-interval range join (clicks inside the hour after each
    * purchase, per user) via bounded bucket explosion: intervals replicate
    * to ≤ 7 ten-minute buckets, points map to one — an equi-join plus exact
    * residual filter, never a nested-loop range join.
    */
  private def qRangeJoin(implicit s: SparkSession, d: String): DataFrame = {
    val ev = t("events").select(col("event_id"), col("user_id"), col("event_type"),
      unix_micros(col("ts")).as("us"), col("value"))
    val clicks = ev.filter(col("event_type") === "click")
      .select(col("user_id"), col("us"), col("value"))
    val purchases = ev.filter(col("event_type") === "purchase")
      .select(col("event_id").as("p_event_id"), col("user_id"),
        col("us").as("p_start"), (col("us") + lit(3600L * 1000000L)).as("p_end"))
    graft.operators.TemporalJoin.rangeJoin(
      clicks, purchases, Seq("user_id"), "us", "p_start", "p_end",
      bucketWidth = 600L * 1000000L)
      .groupBy(col("p_event_id"))
      .agg(count(lit(1)).as("n_clicks"), sum(cents(col("value"))).as("click_cents"))
      .orderBy(col("p_event_id"))
  }

  /** P3 union-branch resolution: runtime branch pick + single-column render
    * (CsvAvroDataConverter.kt:64-67) modeled as branch-tagged coalesce.
    */
  private def qUnionResolve(implicit s: SparkSession, d: String): DataFrame = {
    val ev = t("events")
    val branchA = when(col("event_type") === "purchase", col("value").cast(StringType))
    val branchB = when(col("event_type") =!= "purchase", col("props"))
    ev.select(
      col("event_id"),
      coalesce(branchA, branchB).as("resolved"),
      when(branchA.isNotNull, lit("double")).otherwise(lit("string")).as("branch"))
      .orderBy(col("event_id"))
  }

  /** P4 excludeFields projection drop on a flattened frame. */
  private def qExcludeFields(implicit s: SparkSession, d: String): DataFrame = {
    val excluded = Set("value", "props") // configured flattened names
    val ev = t("events")
    val keep = ev.columns.toSeq.filterNot(excluded).filterNot(_ == "ts").map(n => col(n)) :+
      date_format(col("ts"), "yyyy-MM-dd HH:mm:ss.SSSSSS").as("ts_str")
    ev.select(keep: _*).orderBy(col("event_id"))
  }

  // ----------------------------------------------- LLM-pipeline operators

  import graft.functions.{GraftExpressions, TextFunctions}
  import graft.operators.{Multimodal, Similarity, TextDedup}

  /** Text statistics: token/char/punct/stopword counts. */
  private def qTextStats(implicit s: SparkSession, d: String): DataFrame =
    // token array BOUND once (r19, guide §1.2): the inline form ran the
    // whitespace-tokenizer kernel once per consumer (n_tokens +
    // n_stopwords) in the same generated projection
    t("documents")
      .select(col("doc_id"), col("text"), TextFunctions.words(col("text")).as("__ws"))
      .select(
        col("doc_id"),
        size(col("__ws")).cast(LongType).as("n_tokens"),
        TextFunctions.bpeTokenCount(col("text")).cast(LongType).as("n_bpe_tokens"),
        length(col("text")).cast(LongType).as("n_chars"),
        TextFunctions.punctCount(col("text")).cast(LongType).as("n_punct"),
        TextFunctions.stopwordCountFromWords(col("__ws")).cast(LongType).as("n_stopwords"))
      .orderBy(col("doc_id"))

  /** Quality scoring in exact basis points. */
  private def qQualityScore(implicit s: SparkSession, d: String): DataFrame =
    t("documents")
      .select(col("doc_id"), col("text"), TextFunctions.words(col("text")).as("__ws"))
      .select(col("doc_id"),
        TextFunctions.qualityScoreBpFromWords(col("__ws"), col("text")).as("score_bp"))
      .orderBy(col("doc_id"))

  /** Language-ID heuristic (marker-word argmax, fixed tie order). */
  private def qLangId(implicit s: SparkSession, d: String): DataFrame = {
    // token array AND the five marker counts bound to columns (r19, guide
    // §1.2): inlined, the argmax CASE chain re-evaluated each
    // size(filter(words(text), markers)) pairwise comparison — 20
    // tokenizer + filter walks per row in the pre-r19 plan; bound, one
    // tokenizer pass and five filter walks, then a chain over integers
    t("documents")
      .select(col("doc_id"), col("lang"), TextFunctions.words(col("text")).as("__ws"))
      .select(col("doc_id") +: col("lang") +:
        TextFunctions.langMarkers.map { case (lang, ms) =>
          size(filter(col("__ws"), w => w.isin(ms.map(x => x: Any): _*))).as(s"__c_$lang")
        }: _*)
      .select(col("doc_id"), col("lang"),
        TextFunctions.langIdFromCounts(
          TextFunctions.langMarkers.map { case (lang, _) => lang -> col(s"__c_$lang") })
          .as("predicted"))
      .orderBy(col("doc_id"))
  }

  /** Exact dedup by content-prefix digest (hash groupBy). */
  private def qDedupExact(implicit s: SparkSession, d: String): DataFrame = {
    val prefix = concat_ws(" ", slice(TextFunctions.words(col("text")), 1, 5))
    t("documents")
      .groupBy(md5(prefix.cast(BinaryType)).as("prefix_hash"))
      .agg(count(lit(1)).as("n_docs"), min(col("doc_id")).as("min_doc_id"))
      .orderBy(col("prefix_hash"))
  }

  /** Whole-document fingerprint. */
  private def qDocFingerprint(implicit s: SparkSession, d: String): DataFrame =
    t("documents")
      .select(col("doc_id"), TextFunctions.fingerprintMd5(col("text")).as("fp"),
        length(col("text")).cast(LongType).as("n_chars"))
      .orderBy(col("doc_id"))

  /** n-gram Jaccard between adjacent doc pairs (exact set counts). */
  private def qNgramJaccard(implicit s: SparkSession, d: String): DataFrame = {
    val docs = graft.operators.Scale.widen(t("documents"))
      .select(col("doc_id"), array_distinct(TextDedup.shingles(col("text"), 3)).as("ds"))
    val a = docs.select(col("doc_id").as("doc_a"), col("ds").as("dsa"))
    val b = docs.select(col("doc_id").as("doc_b"), col("ds").as("dsb"))
    // shuffle_hash pin: both sides are the full per-doc shingle-set table
    // (rows = |corpus|, wide array payload), and with no pre-join aggregate
    // the static planner estimates them at the scan's size and broadcast
    // one — measured at 10×: 130 MiB / 50k rows driver-side. The equality
    // key (doc_a + 1) hash-partitions both sides cleanly (unique keys, no
    // skew — SHJ skips sorting the array payloads); nothing corpus-sized
    // may broadcast.
    val joined = a.join(b.hint("shuffle_hash"), col("doc_b") === col("doc_a") + 1)
    val inter = size(array_intersect(col("dsa"), col("dsb")))
    joined.select(
      col("doc_a"), col("doc_b"),
      inter.cast(LongType).as("inter_size"),
      (size(col("dsa")) + size(col("dsb")) - inter).cast(LongType).as("union_size"))
      .orderBy(col("doc_a"))
  }

  /** End-to-end corpus near-dedup: LSH candidates → exact-Jaccard verify →
    * cluster → keep min id per cluster. Output: surviving doc ids.
    */
  private def qCorpusDedup(implicit s: SparkSession, d: String): DataFrame =
    TextDedup.dedupCorpus(t("documents"), "doc_id", "text")
      .orderBy(col("doc_id"))

  /** Leakage-free train/eval split: the split is decided per NEAR-DUP
    * CLUSTER (TextDedup.corpusClusters), so no document ever lands in
    * train while a near-duplicate sits in eval — the contamination mode a
    * per-document hash split cannot prevent. ~10% of clusters (salted-md5
    * bucket of the cluster representative) go to eval; the bucket hash is
    * engine-portable, so the oracle reproduces the exact assignment.
    */
  private def qSplitLeakfree(implicit s: SparkSession, d: String): DataFrame = {
    val clusters = graft.operators.TextDedup.corpusClusters(t("documents"), "doc_id", "text")
    val bucket = conv(substring(md5(concat(lit("split:"),
      col("cluster").cast(StringType))), 1, 2), 16, 10).cast(IntegerType)
    clusters
      .select(col("doc_id"), col("cluster"),
        when(bucket < 26, lit("eval")).otherwise(lit("train")).as("split"))
      .orderBy(col("doc_id"))
  }

  /** MinHash + LSH candidate near-duplicate pairs. */
  private def qMinhashPairs(implicit s: SparkSession, d: String): DataFrame =
    TextDedup.minhashCandidatePairs(t("documents"), "doc_id", "text",
        shingleN = 3, k = 12, bands = 6, rowsPerBand = 2)
      .orderBy(col("doc_a"), col("doc_b"))

  /** MinHash calibration: for every LSH candidate pair, the signature
    * estimate of Jaccard (matching lanes / 12) next to the EXACT shingle
    * Jaccard (integer intersection / union sizes) — the audit that tells
    * you whether the banding parameters' recall/precision trade-off holds
    * on YOUR corpus before trusting the index. All-integer outputs.
    * Scale shape: the pair set is band-bounded; signatures and shingle
    * sets re-attach through narrow id-keyed shuffle joins. The pairs, the
    * signatures and the set re-attach all derive from ONE shingle-set
    * frame, so the byte-identical subtrees share exchanges (AQE reuse)
    * and the corpus shingles once. In production this runs over a pair
    * SAMPLE — the full-corpus form here is the oracle-checkable worst
    * case.
    */
  private def qMinhashCalib(implicit s: SparkSession, d: String): DataFrame = {
    val docs = t("documents")
    val sets = TextDedup.distinctShingleSets(docs, "doc_id", "text", 3)
    val pairs = TextDedup.minhashCandidatePairsFromSets(sets, "doc_id",
      k = 12, bands = 6, rowsPerBand = 2)
    val sigs = TextDedup.minhashSignaturesFromSets(sets, "doc_id", k = 12)
    // ONE combined attach frame (doc_id, signature lanes, shingle set): the
    // signature agg's output is already hash-partitioned by doc_id, so this
    // join only exchanges the sets side — and the pair stream then
    // re-partitions TWICE (by doc_a, by doc_b) instead of the four times
    // (a, b, a, b) the separate sig/set re-attach joins cost. (Carrying
    // __sh through the signature explode instead would copy the array once
    // per shingle row — O(|set|²) bytes per document; the join is the
    // linear-cost way to line the two up.)
    val attach = sigs.join(sets.hint("shuffle_hash"), "doc_id")
    val attA = attach.select(col("doc_id").as("doc_a") +: col("__sh").as("__sha") +:
      (0 until 12).map(i => col(s"__mh_$i").as(s"__a_$i")): _*)
    val attB = attach.select(col("doc_id").as("doc_b") +: col("__sh").as("__shb") +:
      (0 until 12).map(i => col(s"__mh_$i").as(s"__b_$i")): _*)
    val estLanes = (0 until 12)
      .map(i => when(col(s"__a_$i") === col(s"__b_$i"), 1L).otherwise(0L))
      .reduce(_ + _)
    val (inter, union) = TextDedup.jaccardCounts(col("__sha"), col("__shb"))
    // shuffle_hash pins: the re-attach tables are corpus-row-count frames
    // (signatures 18 MiB, shingle sets 130 MiB at 10×) whose static size
    // estimates don't model the array payload — the planner broadcast
    // them. The audit contract is id-keyed narrow re-attach JOINS that
    // hash-partition at every scale, never a corpus-row broadcast; SHJ over
    // SMJ because the keys are unique doc ids (no skew) and it skips
    // sorting the wide array payloads (measured ~1.4 vs ~1.8 s at sf0.1,
    // ~2.0 vs ~2.3-4.0 s at 10×). AQE skew-split applies to SHJ too.
    pairs.join(attA.hint("shuffle_hash"), "doc_a").join(attB.hint("shuffle_hash"), "doc_b")
      .select(col("doc_a"), col("doc_b"), estLanes.as("est_lanes"),
        inter.cast(LongType).as("inter_sz"), union.cast(LongType).as("union_sz"))
      .orderBy(col("doc_a"), col("doc_b"))
  }

  /** Dedup audit: histogram of near-dup cluster sizes (how much of the
    * corpus sits in 2-doc pairs vs mega-clusters — the shape that decides
    * retention policy and flags template explosions). Two tiny
    * aggregations over the connected-components output: per-cluster size,
    * then size → cluster count; both shuffle only cluster-count-sized
    * tables, the corpus-scale work is the CC contraction itself.
    */
  private def qClusterSizes(implicit s: SparkSession, d: String): DataFrame = {
    val emb = t("embeddings")
    Similarity.embeddingClusters(emb, emb.filter(col("vec_id") < 16), 0.3)
      .groupBy(col("cluster")).agg(count(lit(1)).as("__sz"))
      .groupBy(col("__sz")).agg(count(lit(1)).as("n_clusters"))
      .select(col("__sz").cast(LongType).as("cluster_size"), col("n_clusters"),
        (col("__sz") * col("n_clusters")).cast(LongType).as("n_vectors"))
      .orderBy(col("cluster_size"))
  }

  /** Cross-source duplication matrix: MinHash-LSH candidate pairs rolled
    * up to (source, source) cells — "which sources copy each other", the
    * provenance diagnostic that decides whether to dedup within or across
    * sources before mixing. The pair set is band-bounded (never all-pairs);
    * the source tag is CARRIED through the band pipeline (narrow
    * passthrough: `bands` small copies per document inside the one
    * existing exchange) instead of re-attached by two id-keyed joins that
    * would re-shuffle the entire pair stream — carry narrow, join wide.
    * Source order inside a cell is canonicalized with least/greatest so
    * (A,B) and (B,A) collapse.
    */
  private def qSourceOverlap(implicit s: SparkSession, d: String): DataFrame = {
    val docs = t("documents")
    val pairs = TextDedup.minhashCandidatePairs(docs, "doc_id", "text",
      shingleN = 3, k = 12, bands = 6, rowsPerBand = 2, carryCols = Seq("source"))
    pairs
      .select(least(col("__a_source"), col("__b_source")).as("source_a"),
        greatest(col("__a_source"), col("__b_source")).as("source_b"))
      .groupBy(col("source_a"), col("source_b"))
      .agg(count(lit(1)).as("n_pairs"))
      .orderBy(col("source_a"), col("source_b"))
  }

  /** Incremental dedup: candidates between the standing corpus (history)
    * and one incoming batch (doc_id ≡ 0 mod 10 stands in for the new
    * slice) — the batch band table broadcasts, the corpus streams, and no
    * history×history pair is ever formed.
    */
  private def qIncrementalDedup(implicit s: SparkSession, d: String): DataFrame = {
    val docs = t("documents")
    TextDedup.minhashCandidatePairsAgainst(
        docs.filter(col("doc_id") % 10 =!= 0), docs.filter(col("doc_id") % 10 === 0),
        "doc_id", "text")
      .orderBy(col("history_id"), col("batch_id"))
  }

  /** Bloom-guarded incremental EXACT dedup (Dedup.bloomDedupAgainst): the
    * batch probes a one-aggregation Bloom digest of the history's content
    * fingerprints row-locally; only might-contain hits anti-join the
    * history. Result is exact, so the oracle is the plain anti join — the
    * Bloom path must agree with it bit-for-bit on every run.
    */
  private def qBloomDedup(implicit s: SparkSession, d: String): DataFrame = {
    val fp = md5(col("text").cast(BinaryType)).as("fp")
    val docs = t("documents").select(col("doc_id"), fp)
    // auto-sized (expectedItems = 0): the operator measures the history
    // cardinality INSIDE the digest aggregation (fused count — one history
    // scan, not count + build, for histories up to the 256k-item
    // AutoSizeCapacity; beyond it — e.g. a 333k-key 10× history — it
    // rebuilds exactly-sized, the same two scans the old count+build
    // always paid); a fixed size would saturate at larger corpora
    // (a 100k filter over a 333k-key 10× history pushes fpp toward ~50%
    // and degrades the probe to the plain anti-join). NOTE:
    // bloomDedupAgainst is EAGER by contract (the digest collects at frame
    // CONSTRUCTION) — the one queries-map entry whose builder runs Spark
    // jobs before the frame is executed.
    graft.operators.Dedup.bloomDedupAgainst(
        history = docs.filter(col("doc_id") % 3 =!= 0),
        batch = docs.filter(col("doc_id") % 3 === 0), keyCol = "fp")
      .select(col("doc_id"), col("fp"))
      .orderBy(col("doc_id"))
  }

  /** SimHash-banded near-dup candidates + hamming distances. The md5-based
    * token hash makes the full pipeline oracle-checkable (bands and hamming
    * recomputed in DuckDB from the same md5 halves).
    */
  private def qSimhashPairs(implicit s: SparkSession, d: String): DataFrame =
    TextDedup.simhashCandidatePairs(t("documents"), "doc_id", "text")
      .select(col("doc_a"), col("doc_b"), col("hamming").cast(LongType).as("hamming"))
      .orderBy(col("doc_a"), col("doc_b"))

  /** SimHash64 via custom Catalyst expression; emitted as a 16-hex-char
    * string so the 64-bit value round-trips engines without sign issues.
    */
  private def qSimhash(implicit s: SparkSession, d: String): DataFrame = {
    GraftExpressions.register(s)
    t("documents")
      .select(col("doc_id"),
        format_string("%016x",
          GraftExpressions.simHash64(TextFunctions.words(col("text")))).as("simhash_hex"))
      .orderBy(col("doc_id"))
  }

  /** Repeated-passage spans (TextDedup.repeatedSpans): 8-token window
    * fingerprints occurring in ≥2 distinct documents — the exact-substring
    * dedup primitive whole-document dedup cannot see. Oracle recomputes
    * the same windows with generate_series + inclusive list slicing.
    */
  private def qRepeatedSpans(implicit s: SparkSession, d: String): DataFrame =
    graft.operators.TextDedup.repeatedSpans(t("documents"), "doc_id", "text")
      .orderBy(col("fp"))

  /** repeatedSpans in `docExact` mode over a CHUNKED corpus (each document
    * split into two half-token chunks → two rows per doc_id, the
    * multi-row-per-id shape the mode exists for): n_docs must count
    * distinct DOCUMENTS, so a span repeated only across one document's own
    * chunks must not pass minDocs. The oracle recomputes the same chunking
    * and takes DISTINCT (doc_id, fp) across chunk rows — exactly the
    * cross-row distinct the mode adds.
    */
  private def qSpansChunked(implicit s: SparkSession, d: String): DataFrame = {
    import graft.functions.TextFunctions
    val half = floor(size(col("ws")) / lit(2)).cast(IntegerType)
    val chunked = t("documents")
      .select(col("doc_id"), TextFunctions.words(col("text")).as("ws"))
      .select(col("doc_id"), explode(array(
        slice(col("ws"), lit(1), half),
        slice(col("ws"), half + lit(1), size(col("ws")) - half))).as("cw"))
      .select(col("doc_id"), concat_ws(" ", col("cw")).as("text"))
    graft.operators.TextDedup.repeatedSpans(chunked, "doc_id", "text", docExact = true)
      .orderBy(col("fp"))
  }

  /** Repeated-span masking (TextDedup.maskRepeatedSpans): documents with
    * their globally-repeated 8-token passages removed. The oracle rebuilds
    * the same mask from list functions; texts compare as md5 to keep the
    * result frame narrow.
    */
  private def qMaskSpans(implicit s: SparkSession, d: String): DataFrame =
    graft.operators.TextDedup.maskRepeatedSpans(t("documents"), "doc_id", "text")
      .select(col("doc_id"),
        md5(col("masked_text").cast(BinaryType)).as("masked_fp"),
        col("n_masked_tokens"))
      .orderBy(col("doc_id"))

  /** Span-level eval decontamination: 8-token spans of training documents
    * that appear verbatim in the eval slice (doc_id ≡ 0 mod 100, as in
    * q_contamination) are masked out and the rest of the text kept — the
    * benchmark-decontamination procedure at span granularity (the
    * contamination probe only FLAGS documents). Output is the masked-text
    * fingerprint + masked-token count per training doc.
    */
  private def qDecontamMask(implicit s: SparkSession, d: String): DataFrame = {
    val docs = t("documents")
    graft.operators.TextDedup.decontaminateAgainst(
        docs.filter(col("doc_id") % 100 =!= 0), docs.filter(col("doc_id") % 100 === 0),
        "doc_id", "text")
      .select(col("doc_id"),
        md5(col("masked_text").cast(BinaryType)).as("masked_fp"),
        col("n_masked_tokens"))
      .orderBy(col("doc_id"))
  }

  /** Rolling-hash fingerprint via custom expression (oracle: the same
    * left-fold over code points — documents are ASCII, so bytes ≡ points).
    */
  private def qRollingHash(implicit s: SparkSession, d: String): DataFrame = {
    GraftExpressions.register(s)
    t("documents")
      .select(col("doc_id"), GraftExpressions.rollingHash(col("text")).as("rhash"))
      .orderBy(col("doc_id"))
  }

  /** Brute-force cosine top-k (exact ANN baseline). */
  private def qCosineTopk(implicit s: SparkSession, d: String): DataFrame = {
    val emb = t("embeddings")
    Similarity.bruteForceTopK(emb, emb.filter(col("vec_id") < 8), k = 5)
      .orderBy(col("query_id"), col("rank"))
  }

  /** IVF-bucketed cosine top-k (the scale path: one shuffle on cell id). */
  private def qIvfTopk(implicit s: SparkSession, d: String): DataFrame = {
    val emb = t("embeddings")
    val assigned = Similarity.ivfAssign(emb, emb.filter(col("vec_id") < 16))
    Similarity.ivfTopK(assigned, emb.select(col("vec_id")).filter(col("vec_id") < 8), k = 3)
      .orderBy(col("query_id"), col("rank"))
  }

  /** IVF top-k with nprobe=2 (the recall/latency dial: each query searches
    * its two nearest cells).
    */
  private def qIvfProbe(implicit s: SparkSession, d: String): DataFrame = {
    val emb = t("embeddings")
    Similarity.ivfTopKProbed(emb, emb.filter(col("vec_id") < 16),
      emb.select(col("vec_id")).filter(col("vec_id") < 8), k = 3, nprobe = 2)
      .orderBy(col("query_id"), col("rank"))
  }

  /** Embedding-cosine near-dup pairs (IVF-cell-bounded, threshold 0.3). */
  private def qEmbeddingNeardup(implicit s: SparkSession, d: String): DataFrame = {
    val emb = t("embeddings")
    val assigned = Similarity.ivfAssign(emb, emb.filter(col("vec_id") < 16))
    Similarity.cosineNearDupPairs(assigned, 0.3)
      .orderBy(col("vec_a"), col("vec_b"))
  }

  /** Incremental semantic dedup: exact cosine-threshold pairs between the
    * standing corpus and one new batch (vec_id ≡ 0 mod 10) — batch
    * broadcasts whole, corpus streams once; no index, no recall loss.
    */
  private def qEmbeddingIncremental(implicit s: SparkSession, d: String): DataFrame = {
    val emb = t("embeddings")
    Similarity.cosineNearDupAgainst(
        emb.filter(col("vec_id") % 10 =!= 0), emb.filter(col("vec_id") % 10 === 0), 0.3)
      .orderBy(col("history_id"), col("batch_id"))
  }

  /** Near-dup cluster collapse: connected components over the cosine pair
    * graph (hash-min fixpoint; DuckDB oracle = recursive transitive
    * closure). Output: only vertices in non-trivial clusters.
    */
  private def qDedupCluster(implicit s: SparkSession, d: String): DataFrame = {
    val emb = t("embeddings")
    val assigned = Similarity.ivfAssign(emb, emb.filter(col("vec_id") < 16))
    val pairs = Similarity.cosineNearDupPairs(assigned, 0.3)
    Similarity.connectedComponents(pairs, emb.select(col("vec_id")))
      .filter(col("vec_id") =!= col("cluster"))
      .orderBy(col("vec_id"))
  }

  /** Vocabulary building: token frequencies (explode → map-side-combined
    * count), top 50 with deterministic tie order.
    */
  private def qTokenFreq(implicit s: SparkSession, d: String): DataFrame =
    graft.operators.Scale.widen(t("documents"))
      .select(explode(TextFunctions.words(col("text"))).as("token"))
      .groupBy(col("token"))
      .agg(count(lit(1)).as("freq"))
      .orderBy(col("freq").desc, col("token").asc)
      .limit(50)

  /** Deterministic hash-based dataset mixing: per-source sampling rates
    * applied via an md5 bucket of the document id (0-255), so the sample is
    * reproducible across engines, partitionings and runs — the standard
    * LLM-corpus weighting primitive (no rand(), no sampleBy seed
    * dependence). src0 keeps 1/2, src1 keeps 1/4, the rest keep 1/8.
    */
  private def qSampleMix(implicit s: SparkSession, d: String): DataFrame = {
    val bucket = conv(substring(md5(concat(lit("smp:"),
      col("doc_id").cast(StringType))), 1, 2), 16, 10).cast(IntegerType)
    val keepBelow = when(col("source") === "src0", lit(128))
      .when(col("source") === "src1", lit(64))
      .otherwise(lit(32))
    t("documents")
      .filter(bucket < keepBelow)
      .select(col("doc_id"), col("source"), col("lang"),
        length(col("text")).cast(LongType).as("n_chars"))
      .orderBy(col("doc_id"))
  }

  /** Deterministic per-source quota sample: the 20 documents with the
    * smallest salted md5 per source — fixed-size per-group samples
    * (corpus curation's quota counterpart to rate-based [[qSampleMix]]),
    * reproducible across engines/partitionings, and executed as the
    * bounded-heap aggregate: ≤20 candidates per (source, mapper) shuffle,
    * no per-group sort.
    */
  private def qQuotaSample(implicit s: SparkSession, d: String): DataFrame = {
    val hash = conv(substring(md5(concat(lit("quota:"),
      col("doc_id").cast(StringType))), 1, 8), 16, 10).cast(LongType)
    t("documents")
      .select(col("doc_id"), col("source"), hash.as("__h"))
      .groupBy(col("source"))
      .agg(graft.functions.GraftExpressions.topKPayload(
        (-col("__h")).cast(DoubleType), col("doc_id"), col("doc_id"), 20).as("__keep"))
      .select(col("source"), explode(col("__keep")).as("doc_id"))
      .orderBy(col("source"), col("doc_id"))
  }

  /** Eval-set contamination check: documents sharing any 3-gram shingle
    * with the held-out set (doc_id ≡ 0 mod 100), with the overlap size.
    * The eval shingle set is small by construction → broadcast side of the
    * probe join; corpus side streams, no full shuffle.
    */
  private def qContamination(implicit s: SparkSession, d: String): DataFrame = {
    val sh = graft.operators.Scale.widen(t("documents"))
      .select(col("doc_id"),
        explode(array_distinct(TextDedup.shingles(col("text"), 3))).as("sh"))
    val evalSh = sh.filter(col("doc_id") % 100 === 0).select(col("sh")).distinct()
    sh.filter(col("doc_id") % 100 =!= 0)
      .join(broadcast(evalSh), "sh")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_shared"))
      .orderBy(col("doc_id"))
  }

  /** Near-dup retention policy: within each verified duplicate cluster keep
    * the highest-quality document (score desc, id asc) instead of the
    * minimum id — the usual "keep best, drop rest" corpus-dedup variant.
    */
  private def qDedupQuality(implicit s: SparkSession, d: String): DataFrame = {
    val clusters = TextDedup.corpusClusters(t("documents"), "doc_id", "text")
    val quality = t("documents")
      .select(col("doc_id"), col("text"), TextFunctions.words(col("text")).as("__ws"))
      .select(col("doc_id"),
        TextFunctions.qualityScoreBpFromWords(col("__ws"), col("text")).as("score_bp"))
    // best-of-cluster via max_by (score desc, id asc — the negated id breaks
    // ties): ONE aggregation with map-side partials instead of a
    // row_number window sorting every cluster's rows
    clusters.join(quality, "doc_id")
      .groupBy(col("cluster").cast(LongType).as("cluster"))
      .agg(max_by(struct(col("doc_id"), col("score_bp")),
        struct(col("score_bp"), (-col("doc_id")).as("__tie"))).as("__w"))
      .select(col("cluster"), col("__w.doc_id").as("doc_id"), col("__w.score_bp").as("score_bp"))
      .orderBy(col("cluster"))
  }

  /** One k-means centroid-update step over the IVF assignment: per (cell,
    * dimension) the scaled-integer coordinate sum and member count. Sums
    * are exact BIGINTs (each float coordinate rounds to 1e6-scaled units
    * BEFORE summing), so the reduction is associative — safe under any
    * partial-aggregation order, unlike summing raw doubles. The division
    * (sum/n = new centroid) is the caller's trivial step.
    */
  /** One power-iteration step over the embedding matrix (the top-
    * principal-direction primitive behind PCA whitening / spectral
    * diagnostics of an embedding corpus): out = Xᵀ(Xv) for a fixed
    * deterministic start vector v (+1/−1 alternating). Everything runs in
    * scaled-INTEGER space (components quantized at 1e3), so the
    * row-visit-order-dependent float summation problem disappears — partial
    * long sums commute exactly, and the cross-engine compare is bit-exact.
    * Scale shape: s=⟨x,v⟩ and the s·x rescale are row-local; the only
    * aggregation is one VectorSumLong — a |dim|-long partial per mapper
    * (map-side combined), with the per-dim explode on the single aggregated
    * row, never on the corpus.
    */
  private def qPowerIter(implicit s: SparkSession, d: String): DataFrame = {
    val xq = transform(col("embedding"), x => round(x.cast(DoubleType) * 1e3).cast(LongType))
    val signed = zip_with(xq, sequence(lit(0), size(col("embedding")) - 1),
      (x, j) => x * (lit(1L) - lit(2L) * (j % 2)))
    val sI = aggregate(signed, lit(0L), (a, x) => a + x)
    t("embeddings")
      .select(xq.as("__xq"), sI.as("__s"))
      .agg(graft.functions.GraftExpressions.vectorSumLong(
          transform(col("__xq"), x => x * col("__s"))).as("__out"),
        count(lit(1)).as("__n"), sum(col("__s") * col("__s")).as("__s2"))
      .select(col("__n"), col("__s2"), posexplode(col("__out")).as(Seq("dim", "out_scaled")))
      .select(col("dim").cast(LongType).as("dim"), col("out_scaled"),
        col("__n").as("n_vectors"), col("__s2").as("s_norm_sq"))
      .orderBy(col("dim"))
  }

  private def qKmeansStep(implicit s: SparkSession, d: String): DataFrame = {
    val e = t("embeddings")
    val centroids = e.filter(col("vec_id") < 16)
    val assigned = Similarity.ivfAssign(e, centroids)
    // vector-sum BEFORE any explode: the bounded element-wise aggregate
    // shuffles one |dim|-long partial per (cell, mapper) — the per-(cell,
    // dim) explode runs on the |cells| aggregated rows, never on the corpus
    // (exploding first would multiply shuffle input ×dim)
    val scaled = transform(col("embedding"),
      x => round(x.cast(DoubleType) * 1e6).cast(LongType))
    assigned
      .groupBy(col("cell").cast(LongType).as("cell"))
      .agg(graft.functions.GraftExpressions.vectorSumLong(scaled).as("__sums"),
        count(lit(1)).as("n"))
      .select(col("cell"), col("n"), posexplode(col("__sums")).as(Seq("dim", "sum_scaled")))
      .select(col("cell"), col("dim").cast(LongType).as("dim"), col("sum_scaled"), col("n"))
      .orderBy(col("cell"), col("dim"))
  }

  /** Ranked retention: top-3 documents per source by quality score (score
    * desc, id asc) — the per-group shortlist primitive, as the bounded-heap
    * payload aggregate: each mapper keeps ≤3 candidates per source, so the
    * shuffle is O(3·|sources|·mappers) and nothing sorts — a `row_number`
    * window would instead funnel the whole scored corpus into |sources|
    * sort tasks (the hot-group scale hazard).
    */
  private def qTopDocs(implicit s: SparkSession, d: String): DataFrame =
    t("documents")
      .select(col("doc_id"), col("source"), col("text"),
        TextFunctions.words(col("text")).as("__ws"))
      .select(col("doc_id"), col("source"),
        TextFunctions.qualityScoreBpFromWords(col("__ws"), col("text")).as("score_bp"))
      .groupBy(col("source"))
      .agg(graft.functions.GraftExpressions.topKPayload(
        col("score_bp").cast(DoubleType), col("doc_id"),
        struct(col("doc_id"), col("score_bp")), 3).as("__top"))
      .select(col("source"), posexplode(col("__top")).as(Seq("__pos", "__p")))
      .select(col("__p.doc_id").as("doc_id"), col("source"), col("__p.score_bp").as("score_bp"),
        (col("__pos") + 1).cast(LongType).as("rnk"))
      .orderBy(col("source"), col("rnk"))

  /** Sequence packing for LLM training: documents concatenated in id order
    * and chunked into 2048-token context windows — each document's sequence
    * id is the window its first token lands in (concat-then-chunk packing).
    *
    * The corpus-wide prefix sum is computed DISTRIBUTED, two-level: a
    * running sum within each id bucket (window partitioned by bucket — no
    * single-task global sort) plus broadcast bucket offsets (the global
    * window runs only over the tiny bucket-totals table). Identical values
    * to a naive `ORDER BY doc_id` running total, but every full-data stage
    * is partitioned.
    */
  private def qSeqPack(implicit s: SparkSession, d: String): DataFrame = {
    val docs = t("documents")
      .select(col("doc_id"), TextFunctions.tokenCount(col("text")).cast(LongType).as("n_tokens"))
      .withColumn("__b", floor(col("doc_id") / 1000))
    val wIn = Window.partitionBy(col("__b")).orderBy(col("doc_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wOff = Window.orderBy(col("__b"))
      .rowsBetween(Window.unboundedPreceding, -1) // buckets table: |corpus|/1000 rows
    val offsets = docs.groupBy(col("__b")).agg(sum(col("n_tokens")).as("__bsum"))
      .withColumn("__off", coalesce(sum(col("__bsum")).over(wOff), lit(0L)))
      .select(col("__b"), col("__off"))
    docs.withColumn("__cum_in", sum(col("n_tokens")).over(wIn))
      .join(broadcast(offsets), "__b")
      .withColumn("cum_tokens", col("__off") + col("__cum_in"))
      .withColumn("seq_id", floor((col("cum_tokens") - col("n_tokens")) / lit(2048)).cast(LongType))
      .select(col("doc_id"), col("n_tokens"), col("cum_tokens"), col("seq_id"))
      .orderBy(col("doc_id"))
  }

  /** Document frequency per token (stopword discovery / IDF numerator):
    * distinct (doc, token) explode → count per token. Kept exact — raw
    * df counts, no float idf — so ranking is engine-independent.
    */
  private def qDocFreq(implicit s: SparkSession, d: String): DataFrame =
    graft.operators.Scale.widen(t("documents"))
      .select(col("doc_id"), explode(array_distinct(TextFunctions.words(col("text")))).as("token"))
      .groupBy(col("token"))
      .agg(count(lit(1)).as("df"))
      .filter(col("df") >= 50)
      .orderBy(col("df").desc, col("token").asc)

  /** TF-IDF token shortlist: top-3 tokens per document ranked by tf/df —
    * the corpus-size factor N of the textbook tf·(N/df) score is constant
    * within the query, so it scales every score identically and CANNOT
    * change the ranking (the only thing the output keeps); dropping it
    * removes a whole separate count() job. The one double division is the
    * same IEEE operation in every engine (the oracle ranks by the identical
    * expression), so the ranking is stable. df attaches by a count window
    * over the token partition of the row-local tf stream — no join.
    */
  private def qTfidf(implicit s: SparkSession, d: String): DataFrame =
    // per-(doc, token) counts are ROW-LOCAL (graft_elem_counts) and df
    // attaches by the default Window shape — one exchange of the collapsed
    // stream, no join, no second tokenizing scan; the attach-shape
    // crossovers (Join for ≥10⁹-doc hot keys, BroadcastVocab for bounded
    // vocabularies on wide streams) are the TextLm.FreqAttach knob, with
    // the selection rule and measured A/Bs in TextLm's scaladoc + PLANS.md.
    // Per-doc top-3 by row_number: measured faster than the bounded-heap
    // aggregate at 1× and 10× (the heap's TypedImperativeAggregate pays
    // per-group buffer serde outside codegen; both shuffle the same rows).
    graft.operators.TextLm.tfidfTopK(
        graft.operators.Scale.widen(t("documents")), "doc_id", "text", k = 3)
      .orderBy(col("doc_id"), col("rnk"))

  /** The [[graft.operators.TextLm.FreqAttach.Join]] shape of [[qTfidf]]
    * under the SAME oracle: the skew-splittable SMJ alternative stays
    * correctness-gated per round, not only spec-gated.
    */
  private def qTfidfJoinShape(implicit s: SparkSession, d: String): DataFrame =
    graft.operators.TextLm.tfidfTopK(
        graft.operators.Scale.widen(t("documents")), "doc_id", "text", k = 3,
        shape = graft.operators.TextLm.FreqAttach.Join)
      .orderBy(col("doc_id"), col("rnk"))

  /** The [[graft.operators.TextLm.FreqAttach.BroadcastVocab]] shape of
    * [[qUnigramLogprob]] under the SAME oracle (the bounded-vocabulary
    * alternative — tokenizes twice, never shuffles the collapsed stream).
    */
  private def qUnigramBcast(implicit s: SparkSession, d: String): DataFrame =
    graft.operators.TextLm.unigramBucketScore(t("documents"), "doc_id", "text",
        shape = graft.operators.TextLm.FreqAttach.BroadcastVocab)
      .orderBy(col("doc_id"))

  /** Digit-run redaction: scrub numeric spans and count them — the
    * pattern-scrub primitive (emails/ids/phones follow the same shape);
    * counts and the redacted fingerprint are engine-checkable.
    */
  private def qRedact(implicit s: SparkSession, d: String): DataFrame =
    t("documents")
      .select(col("doc_id"),
        regexp_count(col("text"), lit("[0-9]+")).cast(LongType).as("n_redacted"),
        md5(regexp_replace(col("text"), "[0-9]+", "#")).as("redacted_fp"))
      .orderBy(col("doc_id"))

  /** Per-vector int8 affine quantization (embedding compression for
    * storage/ANN at scale): codes = round((x−min)/((max−min)/255)),
    * constant vectors → all-zero codes. Row-local arithmetic only — no
    * shuffle — and every step is the same IEEE double op in DuckDB, so
    * codes are bit-identical.
    */
  private def qQuantize(implicit s: SparkSession, d: String): DataFrame = {
    // BOUND single-pass shape (r19; guide §1.2 per-task work): the inline
    // formulation repeated the cast-transform ~14× in one Project and —
    // far worse — re-evaluated array_min/array_max INSIDE the per-element
    // round lambda, i.e. O(dim²) double passes per row (measured 6.4 s
    // noop at sf0.1 for a row-local projection). Successive projections
    // bind each non-cheap subexpression to a column exactly once
    // (CollapseProject keeps them apart: the refs are used twice and the
    // HOFs are not `isCheap`), so every step is one O(dim) pass. Same
    // IEEE double ops in the same order per element — bit-identical codes.
    val v = col("__v")
    val scale = (col("qmax") - col("qmin")) / lit(255.0)
    val codes = col("__codes")
    t("embeddings")
      .select(col("vec_id"),
        transform(col("embedding"), x => x.cast(DoubleType)).as("__v"))
      .select(col("vec_id"), v,
        array_min(v).as("qmin"), array_max(v).as("qmax"))
      .select(col("vec_id"), col("qmin"), col("qmax"),
        when(scale === 0.0, transform(v, _ => lit(0L)))
          .otherwise(transform(v,
            x => round((x - col("qmin")) / scale).cast(LongType))).as("__codes"))
      .select(col("vec_id"), col("qmin"), col("qmax"),
        aggregate(codes, lit(0L), (a, x) => a + x).as("code_sum"),
        md5(concat_ws(",", transform(codes, _.cast(StringType)))).as("code_fp"))
      .orderBy(col("vec_id"))
  }

  /** Product-quantization codes: 8 subspaces × 16 sub-centroids (the
    * codebook = vec_id < 16 sliced per subspace) — the memory-bound ANN
    * compaction (codes ≈ m bytes/vector). Narrow projection, no shuffle.
    */
  private def qPqEncode(implicit s: SparkSession, d: String): DataFrame = {
    val emb = t("embeddings")
    Similarity.pqEncode(emb, emb.filter(col("vec_id") < 16), m = 8)
      .orderBy(col("vec_id"), col("subspace"))
  }

  /** PQ-ADC approximate top-k (IVF-PQ's scoring half): corpus scanned as
    * 8-subspace codes, per-query distances from plan-literal LUTs, integer
    * micro-unit quantization before the cross-subspace sum (associative).
    */
  private def qPqTopk(implicit s: SparkSession, d: String): DataFrame = {
    val emb = t("embeddings")
    Similarity.pqTopKAdc(emb, emb.filter(col("vec_id") < 16),
      emb.select(col("vec_id")).filter(col("vec_id") < 8), k = 3, m = 8)
      .orderBy(col("query_id"), col("rank"))
  }

  /** Fused IVF-PQ: cell pruning (nprobe=2) + ADC code scoring — the full
    * memory-bound ANN architecture in one broadcast-join plan.
    */
  private def qIvfPqTopk(implicit s: SparkSession, d: String): DataFrame = {
    val emb = t("embeddings")
    Similarity.ivfPqTopK(emb, emb.filter(col("vec_id") < 16),
      emb.select(col("vec_id")).filter(col("vec_id") < 8), k = 3, nprobe = 2, m = 8)
      .orderBy(col("query_id"), col("rank"))
  }

  /** Gopher-style repetition signals per document: token/distinct-token
    * counts, the mode token's frequency, bigram/distinct-bigram counts. All
    * integers (no float ratios → engine-exact); all row-local array
    * expressions — zero shuffles.
    */
  private def qRepetition(implicit s: SparkSession, d: String): DataFrame = {
    // Kernel-based shape (r19; guide §1.2 per-task work). The declarative
    // form's mode frequency — aggregate(distinct, greatest(acc,
    // size(filter(ws, ===tok)))) — was O(distinct·n) interpreted HOF work
    // per document (2.0-2.3 s noop at sf0.1); one graft_elem_counts hash
    // pass yields the same exact occurrence counts, so the mode is
    // array_max over the counts. Bigrams likewise: graft_adjacent_pairs is
    // the identical " "-joined pair list (same kernel the LM family uses),
    // and n_bigrams = max(n_tokens-1, 0) without materializing the pairs.
    // All outputs integer-identical; oracle re-proved. Null text: the
    // kernels return an empty array and greatest() skips the null, so each
    // kernel column is guarded to stay NULL like the declarative form.
    val withWs = t("documents").select(col("doc_id"),
      TextFunctions.words(col("text")).as("ws"))
    val ws = col("ws")
    val ec = col("__ec")
    withWs
      .select(col("doc_id"),
        size(ws).cast(LongType).as("n_tokens"),
        when(ws.isNotNull, GraftExpressions.elemCounts(ws)).as("__ec"),
        when(ws.isNotNull, greatest(size(ws) - 1, lit(0)).cast(LongType)).as("n_bigrams"),
        when(ws.isNotNull, size(GraftExpressions.elemCounts(
          GraftExpressions.adjacentPairs(ws))).cast(LongType))
          .as("n_distinct_bigrams"))
      .select(col("doc_id"), col("n_tokens"),
        when(ec.isNotNull, size(ec).cast(LongType)).as("n_distinct_tokens"),
        when(ec.isNotNull, when(size(ec) === 0, lit(0L))
          .otherwise(array_max(transform(ec, e => e.getField("c")))))
          .as("top_token_freq"),
        col("n_bigrams"), col("n_distinct_bigrams"))
      .orderBy(col("doc_id"))
  }

  /** Z-order (Morton) clustering key over (user, hour) — the layout
    * primitive behind OPTIMIZE ZORDER: sorting output files by `zval`
    * co-locates rows close in either dimension for min/max file skipping.
    * Static unrolled bit expressions, fully codegen'd, zero shuffle.
    */
  private def qZorder(implicit s: SparkSession, d: String): DataFrame = {
    val hour = floor(unix_micros(col("ts")) / lit(3600000000.0)).cast(LongType)
    t("events")
      .select(col("event_id"), col("user_id"), hour.as("hour_idx"),
        graft.functions.ZOrder.zValue2(col("user_id"), hour).as("zval"))
      .orderBy(col("event_id"))
  }

  /** Document-length histogram (50-char buckets). */
  private def qDocHistogram(implicit s: SparkSession, d: String): DataFrame =
    t("documents")
      .groupBy((floor(length(col("text")) / lit(50.0)) * 50).cast(LongType).as("bucket"))
      .agg(count(lit(1)).as("n_docs"))
      .orderBy(col("bucket"))

  /** Balanced shard assignment for training-data writes: documents ranked
    * by size (token count desc, id asc) and serpentine-packed into 8
    * shards — the greedy longest-processing-time layout that keeps shard
    * token totals within one document of each other, so no training shard
    * becomes a straggler.
    *
    * The global rank is computed two-level, like qSeqPack's prefix sum:
    * per-length offsets come from the tiny token-count histogram
    * (broadcast; cardinality ≤ max doc length), and the in-group
    * `row_number` window partitions by that same length — no stage sorts
    * the corpus in a single task, unlike a bare global-ORDER-BY window.
    */
  private def qShardBalance(implicit s: SparkSession, d: String): DataFrame = {
    val nShards = 8
    val docs = t("documents")
      .select(col("doc_id"), TextFunctions.tokenCount(col("text")).cast(LongType).as("n_tokens"))
    // offsets(len) = number of documents with strictly more tokens
    val wOff = Window.orderBy(col("n_tokens").desc)
      .rowsBetween(Window.unboundedPreceding, -1) // histogram table only
    val offsets = docs.groupBy(col("n_tokens")).agg(count(lit(1)).as("__n"))
      .withColumn("__off", coalesce(sum(col("__n")).over(wOff), lit(0L)))
      .select(col("n_tokens"), col("__off"))
    val wIn = Window.partitionBy(col("n_tokens")).orderBy(col("doc_id"))
    val idx = col("rnk") - 1
    val pos = idx % nShards
    docs.join(broadcast(offsets), "n_tokens")
      .withColumn("rnk", col("__off") + row_number().over(wIn))
      .withColumn("shard",
        when(floor(idx / nShards) % 2 === 0, pos).otherwise(lit(nShards - 1) - pos)
          .cast(LongType))
      .select(col("doc_id"), col("n_tokens"), col("rnk").cast(LongType).as("rnk"), col("shard"))
      .orderBy(col("doc_id"))
  }

  /** Overlapping token-window chunking (retrieval/embedding prep): each
    * document split into 128-token windows starting every 96 tokens (32
    * overlap), last window short. Row-local array expressions — the chunk
    * explode is the only row multiplier and everything stays inside
    * whole-stage codegen; no shuffle before the final presentation sort.
    * Chunk text is emitted as an md5 so the oracle checks content, not
    * just counts.
    */
  private def qChunkWindows(implicit s: SparkSession, d: String): DataFrame = {
    val W = 128
    val S = 96
    val withWs = t("documents").select(col("doc_id"),
      TextFunctions.words(col("text")).as("__ws"))
      .withColumn("__n", size(col("__ws")).cast(LongType))
      .filter(col("__n") > 0)
    val nChunks = floor((col("__n") + (S - 1)) / S) // ceil(n/S), integer math
    withWs
      .select(col("doc_id"), col("__ws"), col("__n"),
        explode(sequence(lit(0L), nChunks - 1)).as("chunk_id"))
      .withColumn("__start", col("chunk_id") * S)
      .select(
        col("doc_id"),
        col("chunk_id"),
        least(lit(W), col("__n") - col("__start")).cast(LongType).as("n_chunk_tokens"),
        md5(concat_ws(" ", slice(col("__ws"), (col("__start") + 1).cast(IntegerType), lit(W))))
          .as("chunk_hash"))
      .orderBy(col("doc_id"), col("chunk_id"))
  }

  /** One BPE-style merge-candidate step: the 20 most frequent adjacent
    * token pairs across the corpus (count desc, pair asc). The bigram
    * build is the same row-local transform as qRepetition; the global
    * count is one map-side-combined shuffle and the top-20 runs as
    * TakeOrderedAndProject (per-partition bounded heaps → driver merge of
    * 20-row partials), never a full sort.
    */
  private def qBpePairs(implicit s: SparkSession, d: String): DataFrame = {
    // tokenize into a materialized column FIRST (referencing words(text)
    // inside a per-pair lambda would re-run the regex split per bigram),
    // then pair with the codegen'd AdjacentPairs kernel — the former
    // transform/element_at formulation evaluated interpreted
    t("documents").select(TextFunctions.words(col("text")).as("__ws"))
      .select(explode(graft.functions.GraftExpressions.adjacentPairs(col("__ws"))).as("pair"))
      .groupBy(col("pair"))
      .agg(count(lit(1)).as("cnt"))
      .orderBy(col("cnt").desc, col("pair").asc)
      .limit(20)
  }

  /** Temperature-weighted source mixture (multilingual/source rebalancing,
    * alpha = 0.5): per-source document counts and the resampling weight
    * `count^alpha / Σ count^alpha` in parts-per-million. The per-source
    * weight is scaled to an exact integer BEFORE the cross-source sum
    * (the numeric-determinism policy above), and every full-data stage is
    * one map-side-combined count — the window total runs over the
    * |sources|-row aggregate only.
    */
  private def qSourceTemperature(implicit s: SparkSession, d: String): DataFrame = {
    val counts = t("documents").groupBy(col("source")).agg(count(lit(1)).as("n_docs"))
    val w = floor(sqrt(col("n_docs").cast(DoubleType)) * 1e6 + 0.5).cast(LongType)
    counts
      .withColumn("__w", w)
      .withColumn("__tot", sum(col("__w")).over(Window.partitionBy())) // |sources| rows
      .withColumn("ppm",
        floor(col("__w").cast(DoubleType) * 1e6 / col("__tot").cast(DoubleType) + 0.5)
          .cast(LongType))
      .select(col("source"), col("n_docs"), col("ppm"))
      .orderBy(col("source"))
  }

  /** Unigram-LM quality scoring (the perplexity-proxy filter of
    * CCNet-style pipelines): each document scored by the corpus-frequency
    * mass of its tokens — rare-token-heavy documents score low and get
    * filtered. The "log probability" is the exact integer floor(log2(freq))
    * bucket, computed from the binary-string length, so cross-engine
    * parity is bit-exact (no libm log in either engine).
    *
    * Tokenizes ONCE: the corpus frequency attaches JOIN-FREE by a sum
    * window over the token partition of the row-local (doc, token) stream
    * — the broadcast(freq) shape paid a SECOND corpus scan + tokenize for
    * the vocabulary build branch (the row-local counts left it no exchange
    * for AQE to reuse; measured 0.73 → 0.46 s at sf0.1, 0.71 → 0.47 s at
    * 10×, 6 → 4 jobs). Hot-token ceiling: rows are pre-collapsed per
    * (doc, token), so the hottest window partition holds at most one row
    * per document (see qTfidf).
    */
  private def qUnigramLogprob(implicit s: SparkSession, d: String): DataFrame =
    // row-local per-(doc, token) counts + the default Window freq attach —
    // see TextLm (the FreqAttach knob holds the measured alternatives)
    graft.operators.TextLm.unigramBucketScore(t("documents"), "doc_id", "text")
      .orderBy(col("doc_id"))

  /** Bigram-LM quality scoring — the unigram bucket score extended to
    * adjacent token pairs (a closer perplexity proxy: word-order breakage
    * that a bag-of-words unigram score cannot see lowers this one).
    * Bigrams form ROW-LOCALLY (the codegen'd [[GraftExpressions.AdjacentPairs]]
    * kernel — no window, no per-position shuffle; the `zip_with`-of-slices
    * formulation kept the pairing stage in interpreted eval), and so do the
    * per-(doc, bigram) counts (`graft_elem_counts` — see qTfidf). The corpus
    * bigram frequency attaches JOIN-FREE by a sum window over the bigram
    * partition of the pre-collapsed pair stream (one exchange, no
    * groupBy+join-back) — and never a broadcast: unlike the unigram
    * vocabulary, a corpus-scale BIGRAM vocabulary grows ~linearly with
    * corpus size.
    */
  private def qBigramLogprob(implicit s: SparkSession, d: String): DataFrame =
    // row-local per-(doc, bigram) counts (AdjacentPairs + graft_elem_counts
    // in the scan-stage projection) + the default Window freq attach —
    // measured 0.65 s vs 1.35 s (merge-pinned join) vs 2.7 s (broadcast
    // vocab) at 10×; the alternatives live behind TextLm.FreqAttach with
    // the selection rule in its scaladoc
    graft.operators.TextLm.bigramBucketScore(t("documents"), "doc_id", "text")
      .orderBy(col("doc_id"))

  /** ANN recall evaluation: recall@3 of the IVF index against exact
    * brute-force ground truth, per query — the index-quality gate a
    * production semantic-dedup pipeline runs before trusting an index.
    * Both sides come from the guarded top-k paths (bounded query set,
    * `MaxQueryRows`/`MaxCodebookRows`), so the intersection join is over
    * two k·|queries| row tables — driver-safe at any corpus size.
    */
  private def qAnnRecall(implicit s: SparkSession, d: String): DataFrame = {
    val emb = t("embeddings")
    val queries = emb.filter(col("vec_id") < 8)
    val exact = Similarity.bruteForceTopK(emb, queries, k = 3)
      .select(col("query_id"), col("neighbor_id"))
    val assigned = Similarity.ivfAssign(emb, emb.filter(col("vec_id") < 16))
    val approx = Similarity.ivfTopK(assigned, emb.select(col("vec_id")).filter(col("vec_id") < 8), k = 3)
      .select(col("query_id"), col("neighbor_id"))
    val hits = exact.join(approx, Seq("query_id", "neighbor_id"))
      .groupBy(col("query_id")).agg(count(lit(1)).as("__h"))
    queries.select(col("vec_id").as("query_id"))
      .join(hits, Seq("query_id"), "left")
      .select(col("query_id"),
        coalesce(col("__h"), lit(0L)).as("hits"),
        floor(coalesce(col("__h"), lit(0L)).cast(DoubleType) * 1e4 / 3.0)
          .cast(LongType).as("recall_bp"))
      .orderBy(col("query_id"))
  }

  /** Chunk-level (paragraph-granularity) exact dedup: the q_chunk_windows
    * 128-token/96-stride windows hashed, then every chunk whose hash
    * occurs in MORE THAN ONE document is flagged — per-document duplicated
    * chunk ratio. This is the between-doc boilerplate detector (headers,
    * license blocks, templated pages) that document-level dedup misses.
    * Scale shape: chunks pre-aggregate to per-(hash, doc) counts FIRST —
    * the per-hash doc count then derives from that aggregate (q_tfidf's
    * exchange-reuse derivation, so the corpus is chunked once and there is
    * no two-stage countDistinct), the join back runs hash-partitioned on
    * chunk_hash, then one groupBy doc_id — no broadcast of anything
    * corpus-sized, no all-pairs.
    */
  private def qChunkDedup(implicit s: SparkSession, d: String): DataFrame = {
    val W = 128
    val S = 96
    val withWs = t("documents").select(col("doc_id"),
      TextFunctions.words(col("text")).as("__ws"))
      .withColumn("__n", size(col("__ws")).cast(LongType))
      .filter(col("__n") > 0)
    val nChunks = floor((col("__n") + (S - 1)) / S)
    val chunks = withWs
      .select(col("doc_id"), col("__ws"),
        explode(sequence(lit(0L), nChunks - 1)).as("__k"))
      .select(col("doc_id"),
        md5(concat_ws(" ", slice(col("__ws"), (col("__k") * S + 1).cast(IntegerType), lit(W))))
          .as("chunk_hash"))
    val dc = chunks.groupBy(col("chunk_hash"), col("doc_id"))
      .agg(count(lit(1)).as("__m"))
    // __m > 0 is vacuously true but keeps the count column alive through
    // this branch's pruning so the two dc exchanges canonicalize equal and
    // AQE computes the chunk+aggregate subtree once (see qTfidf); dc rows
    // are distinct (hash, doc) pairs, so count(*) per hash = distinct docs
    val perHash = dc.filter(col("__m") > 0).groupBy(col("chunk_hash"))
      .agg(count(lit(1)).as("__n_docs"))
    dc.join(perHash, "chunk_hash")
      .groupBy(col("doc_id"))
      .agg(sum(col("__m")).as("n_chunks"),
        sum(when(col("__n_docs") > 1, col("__m")).otherwise(0L)).as("n_dup_chunks"))
      .withColumn("dup_bp",
        floor(col("n_dup_chunks").cast(DoubleType) * 1e4 / col("n_chunks").cast(DoubleType))
          .cast(LongType))
      .select(col("doc_id"), col("n_chunks"), col("n_dup_chunks"), col("dup_bp"))
      .orderBy(col("doc_id"))
  }

  /** Content-defined chunking (FastCDC-style, at token granularity): a
    * chunk boundary falls after token p wherever the hash of the 4-token
    * window ending at p has a fixed suffix (last md5 hex digit = '0',
    * P=1/16 → ~16-token average chunks). Unlike the fixed-stride
    * q_chunk_windows, CDC boundaries survive insertions/deletions — shifted
    * text re-synchronizes on the same content-derived cut points, which is
    * what makes chunk-hash dedup robust to edits. Entirely ROW-LOCAL: the
    * boundary scan, chunk assembly and hashing are array expressions; the
    * chunk explode is the only row multiplier and there is no shuffle at
    * all before the output sort.
    */
  private def qCdcChunks(implicit s: SparkSession, d: String): DataFrame = {
    val ws = col("__ws")
    val n = size(ws)
    // 0-based boundary positions p ∈ [3, n): window ws[p-3..p] (1-based
    // slice start p-2) hashes to a '0'-suffixed md5. sequence(3, n-1)
    // would run DESCENDING for n < 4 — guard with an empty array.
    // Each intermediate array materializes in its OWN projection: nested
    // directly, `starts` is captured unevaluated inside the per-chunk
    // lambda and the O(tokens) md5 boundary scan re-runs per chunk index.
    // CollapseProject keeps the multi-referenced non-cheap aliases in
    // separate Projects. The explode must be the OUTER variant: for a
    // non-outer Generate, InferFiltersFromGenerate adds a size(chunks)>0
    // guard that predicate pushdown then inlines below the projections,
    // re-evaluating the whole boundary scan ~6x per row (measured 60 s vs
    // 0.6 s at sf0.1); the guard is vacuous here — every doc with >=1
    // token yields >=1 chunk — and outer generates are exempt from it.
    // one codegen'd pass (the filter-lambda formulation ran interpreted
    // with a slice copy + hex round-trip per position); the kernel returns
    // empty for < 4 tokens so no descending-sequence guard is needed
    val bounds = graft.functions.GraftExpressions.cdcBoundaries(ws)
    val starts = concat(array(lit(0)),
      transform(filter(col("__bounds"), b => b + 1 < n), b => b + 1))
    val chunks = transform(sequence(lit(0), size(col("__starts")) - 1),
      k => struct(
        element_at(col("__starts"), k + 1).as("s"),
        when(k < size(col("__starts")) - 1, element_at(col("__starts"), k + 2) - 1)
          .otherwise(n - 1).as("e")))
    t("documents")
      .select(col("doc_id"), TextFunctions.words(col("text")).as("__ws"))
      .filter(size(col("__ws")) > 0)
      .withColumn("__bounds", bounds)
      .withColumn("__starts", starts)
      .withColumn("__chunks", chunks)
      .select(col("doc_id"), col("__ws"),
        posexplode_outer(col("__chunks")).as(Seq("chunk_id", "__c")))
      .select(col("doc_id"), col("chunk_id").cast(LongType).as("chunk_id"),
        col("__c.s").cast(LongType).as("start_tok"),
        (col("__c.e") - col("__c.s") + 1).cast(LongType).as("n_chunk_tokens"),
        md5(concat_ws(" ",
          slice(col("__ws"), col("__c.s") + 1, col("__c.e") - col("__c.s") + 1)))
          .as("chunk_hash"))
      .orderBy(col("doc_id"), col("chunk_id"))
  }

  /** Dataset-card mix report: docs and whitespace tokens per (lang, source)
    * cell plus each cell's share of all corpus tokens — the composition
    * table every training-data release publishes. One corpus aggregation;
    * the global-share window runs over the aggregated |langs|·|sources|
    * crosstab (tens of rows at any corpus size), so the single-partition
    * window is a driver-sized table, not a corpus funnel.
    */
  private def qDomainMix(implicit s: SparkSession, d: String): DataFrame = {
    val m = t("documents")
      .select(col("lang"), col("source"),
        size(TextFunctions.words(col("text"))).cast(LongType).as("__nt"))
      .groupBy(col("lang"), col("source"))
      .agg(count(lit(1)).as("n_docs"), sum(col("__nt")).as("n_tokens"))
    m.withColumn("share_bp",
        floor(col("n_tokens").cast(DoubleType) * 1e4 /
          sum(col("n_tokens")).over(Window.partitionBy()).cast(DoubleType))
          .cast(LongType))
      .select(col("lang"), col("source"), col("n_docs"), col("n_tokens"), col("share_bp"))
      .orderBy(col("lang"), col("source"))
  }

  /** Deterministic epoch shuffle: the seeded pseudo-random global
    * permutation (rank of md5(seed‖doc_id)) that re-orders training data
    * between epochs, plus round-robin shard assignment from the permuted
    * position — reproducible from the seed alone, no stored state.
    * The global rank uses the q_shard_balance two-level technique with the
    * hash's first byte as the bucket: 256 bucket counts aggregate
    * map-side, cumulate in a window over the 256-row histogram only, and
    * broadcast; the corpus ranks inside `Window.partitionBy(bucket)` —
    * md5 is uniform so buckets are balanced and no task sorts more than
    * ~1/256 of the corpus. No global ORDER BY ever touches the full data.
    */
  private def qEpochShuffle(implicit s: SparkSession, d: String): DataFrame = {
    val nShards = 8
    val docs = t("documents")
      .select(col("doc_id"),
        md5(concat(lit("epoch7:"), col("doc_id").cast(StringType))).as("__hx"))
      .withColumn("__b", substring(col("__hx"), 1, 2))
    val wOff = Window.orderBy(col("__b"))
      .rowsBetween(Window.unboundedPreceding, -1) // 256-row histogram only
    val offsets = docs.groupBy(col("__b")).agg(count(lit(1)).as("__n"))
      .withColumn("__off", coalesce(sum(col("__n")).over(wOff), lit(0L)))
      .select(col("__b"), col("__off"))
    val wIn = Window.partitionBy(col("__b")).orderBy(col("__hx"), col("doc_id"))
    docs.join(broadcast(offsets), "__b")
      .withColumn("pos", (col("__off") + row_number().over(wIn) - 1).cast(LongType))
      .select(col("doc_id"), col("pos"),
        (col("pos") % nShards).cast(LongType).as("shard"),
        floor(col("pos") / nShards).cast(LongType).as("shard_pos"))
      .orderBy(col("doc_id"))
  }

  /** Tokenizer vocabulary coverage (OOV-rate proxy): build the top-1000
    * corpus vocabulary (count desc, token asc tie-break), then score every
    * document by the fraction of its token occurrences covered — the
    * pre-training check that a candidate tokenizer/vocab fits the corpus.
    * The per-(doc, token) counts are ROW-LOCAL (`graft_elem_counts`, see
    * qTfidf): neither the vocabulary build nor the scoring probe ever
    * shuffles the corpus token stream on (doc, token) — the first keyed
    * exchange is the map-side-combined vocabulary aggregation.
    * The top-1000 cut runs as a bounded TakeOrdered (never a full sort),
    * and the vocabulary — capped at 1000 rows by construction — broadcasts.
    */
  private def qVocabCoverage(implicit s: SparkSession, d: String): DataFrame = {
    val dt = t("documents")
      .select(col("doc_id"),
        explode(graft.functions.GraftExpressions.elemCounts(
          TextFunctions.words(col("text")))).as("__tc"))
      .select(col("doc_id"), col("__tc.t").as("token"), col("__tc.c").as("c"))
    val vocab = dt.groupBy(col("token"))
      .agg(sum(col("c")).as("__f"))
      .orderBy(col("__f").desc, col("token").asc)
      .limit(1000)
      .select(col("token"), lit(1).as("__in_vocab"))
    dt.join(broadcast(vocab), Seq("token"), "left")
      .groupBy(col("doc_id"))
      .agg(sum(col("c")).as("n_tokens"),
        sum(when(col("__in_vocab").isNotNull, col("c")).otherwise(0L)).as("n_covered"))
      .withColumn("coverage_bp",
        floor(col("n_covered").cast(DoubleType) * 1e4 / col("n_tokens").cast(DoubleType))
          .cast(LongType))
      .select(col("doc_id"), col("n_tokens"), col("n_covered"), col("coverage_bp"))
      .orderBy(col("doc_id"))
  }

  /** Multimodal batch feature extraction through the Dataset/mapPartitions
    * decode boundary. The corpus becomes REAL container blobs
    * (PNG/GIF/WAV headers whose fields derive arithmetically from doc_id,
    * body = the document bytes — `Multimodal.syntheticMediaFrame`), and
    * the query output is what `Multimodal.decodeMeta` actually PARSES back
    * from those bytes; the oracle recomputes every field arithmetically,
    * so any header-layout or endianness bug in build or parse
    * hash-mismatches.
    */
  private def qMediaFeatures(implicit s: SparkSession, d: String): DataFrame = {
    val media = Multimodal.syntheticMediaFrame(t("documents"))(s)
    Multimodal.decodeFeatures(media)(s).toDF()
      .select(col("doc_id"), col("media_kind"), col("byte_len"),
        col("width"), col("height"), col("bit_depth"),
        col("channels"), col("sample_rate"), col("duration_ms"))
      .orderBy(col("doc_id"))
  }

  /** Multimodal metadata over opaque binary payloads. */
  private def qMultimodalMeta(implicit s: SparkSession, d: String): DataFrame = {
    val media = Multimodal.toMediaFrame(t("documents"))
    val blen = octet_length(col("payload"))
    media.select(
      col("doc_id"),
      blen.cast(LongType).as("byte_len"),
      floor(blen / lit(256.0)).cast(LongType).as("n_frames"),
      (blen % 251).cast(LongType).as("stub_code"))
      .orderBy(col("doc_id"))
  }

  // ------------------------------------------------------------- registry

  /** One entry per implemented operator. CONTRACT: builders are lazy plan
    * constructors — with one documented exception, `q_bloom_dedup`, whose
    * operator ([[graft.operators.Dedup.bloomDedupAgainst]]) is eager by
    * design (digest + sizing count collected at frame construction), so
    * merely building that entry's frame (SCRATCH_EXPLAIN, schema
    * inspection) runs Spark jobs.
    */
  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_agg_pricing"      -> mk(qAggPricing(_, _)),
    "q_time_binning"     -> mk(qTimeBinning(_, _)),
    "q_time_extract"     -> mk(qTimeExtract(_, _)),
    "q_path_routing"     -> mk(qPathRouting(_, _)),
    "q_sanitize_id"      -> mk(qSanitizeId(_, _)),
    "q_dedup_keep_last"  -> mk(qDedupKeepLast(_, _)),
    "q_dedup_keep_first" -> mk(qDedupKeepFirst(_, _)),
    "q_enrich_broadcast" -> mk(qEnrichBroadcast(_, _)),
    "q_semi_join"        -> mk(qSemiJoin(_, _)),
    "q_anti_join"        -> mk(qAntiJoin(_, _)),
    "q_flatten_nested"   -> mk(qFlattenNested(_, _)),
    "q_offset_parse"     -> mk(qOffsetParse(_, _)),
    "q_interval_merge"   -> mk(qIntervalMerge(_, _)),
    "q_union_resolve"    -> mk(qUnionResolve(_, _)),
    "q_exclude_fields"   -> mk(qExcludeFields(_, _)),
    "q_text_stats"       -> mk(qTextStats(_, _)),
    "q_quality_score"    -> mk(qQualityScore(_, _)),
    "q_lang_id"          -> mk(qLangId(_, _)),
    "q_dedup_exact"      -> mk(qDedupExact(_, _)),
    "q_doc_fingerprint"  -> mk(qDocFingerprint(_, _)),
    "q_ngram_jaccard"    -> mk(qNgramJaccard(_, _)),
    "q_minhash_pairs"    -> mk(qMinhashPairs(_, _)),
    "q_incremental_dedup" -> mk(qIncrementalDedup(_, _)),
    "q_bloom_dedup"      -> mk(qBloomDedup(_, _)),
    "q_repeated_spans"   -> mk(qRepeatedSpans(_, _)),
    "q_spans_chunked"    -> mk(qSpansChunked(_, _)),
    "q_mask_spans"       -> mk(qMaskSpans(_, _)),
    "q_corpus_dedup"     -> mk(qCorpusDedup(_, _)),
    "q_split_leakfree"   -> mk(qSplitLeakfree(_, _)),
    "q_simhash"          -> mk(qSimhash(_, _)),
    "q_simhash_pairs"    -> mk(qSimhashPairs(_, _)),
    "q_rolling_hash"     -> mk(qRollingHash(_, _)),
    "q_cosine_topk"      -> mk(qCosineTopk(_, _)),
    "q_ivf_topk"         -> mk(qIvfTopk(_, _)),
    "q_ivf_probe"        -> mk(qIvfProbe(_, _)),
    "q_embedding_neardup" -> mk(qEmbeddingNeardup(_, _)),
    "q_embedding_incremental" -> mk(qEmbeddingIncremental(_, _)),
    "q_dedup_cluster"    -> mk(qDedupCluster(_, _)),
    "q_multimodal_meta"  -> mk(qMultimodalMeta(_, _)),
    "q_sample_mix"       -> mk(qSampleMix(_, _)),
    "q_quota_sample"     -> mk(qQuotaSample(_, _)),
    "q_contamination"    -> mk(qContamination(_, _)),
    "q_dedup_quality"    -> mk(qDedupQuality(_, _)),
    "q_kmeans_step"      -> mk(qKmeansStep(_, _)),
    "q_top_docs"         -> mk(qTopDocs(_, _)),
    "q_seq_pack"         -> mk(qSeqPack(_, _)),
    "q_doc_freq"         -> mk(qDocFreq(_, _)),
    "q_sessionize"       -> mk(qSessionize(_, _)),
    "q_asof_join"        -> mk(qAsofJoin(_, _)),
    "q_asof_forward"     -> mk(qAsofForward(_, _)),
    "q_range_join"       -> mk(qRangeJoin(_, _)),
    "q_pq_encode"        -> mk(qPqEncode(_, _)),
    "q_pq_topk"          -> mk(qPqTopk(_, _)),
    "q_ivfpq_topk"       -> mk(qIvfPqTopk(_, _)),
    "q_zorder"           -> mk(qZorder(_, _)),
    "q_repetition"       -> mk(qRepetition(_, _)),
    "q_tfidf"            -> mk(qTfidf(_, _)),
    "q_tfidf_joinshape"  -> mk(qTfidfJoinShape(_, _)),
    "q_unigram_bcast"    -> mk(qUnigramBcast(_, _)),
    "q_redact"           -> mk(qRedact(_, _)),
    "q_quantize"         -> mk(qQuantize(_, _)),
    "q_top_orders"       -> mk(qTopOrders(_, _)),
    "q_length_quantiles" -> mk(qLengthQuantiles(_, _)),
    "q_token_freq"       -> mk(qTokenFreq(_, _)),
    "q_doc_histogram"    -> mk(qDocHistogram(_, _)),
    "q_shard_balance"    -> mk(qShardBalance(_, _)),
    "q_chunk_windows"    -> mk(qChunkWindows(_, _)),
    "q_bpe_pairs"        -> mk(qBpePairs(_, _)),
    "q_source_temperature" -> mk(qSourceTemperature(_, _)),
    "q_unigram_logprob"  -> mk(qUnigramLogprob(_, _)),
    "q_bigram_logprob"   -> mk(qBigramLogprob(_, _)),
    "q_ann_recall"       -> mk(qAnnRecall(_, _)),
    "q_chunk_dedup"      -> mk(qChunkDedup(_, _)),
    "q_domain_mix"       -> mk(qDomainMix(_, _)),
    "q_power_iter"       -> mk(qPowerIter(_, _)),
    "q_cdc_chunks"       -> mk(qCdcChunks(_, _)),
    "q_source_overlap"   -> mk(qSourceOverlap(_, _)),
    "q_cluster_sizes"    -> mk(qClusterSizes(_, _)),
    "q_minhash_calib"    -> mk(qMinhashCalib(_, _)),
    "q_vocab_coverage"   -> mk(qVocabCoverage(_, _)),
    "q_epoch_shuffle"    -> mk(qEpochShuffle(_, _)),
    "q_decontam_mask"    -> mk(qDecontamMask(_, _)),
    "q_media_features"   -> mk(qMediaFeatures(_, _)))

  private def mk(f: (SparkSession, String) => DataFrame): (SparkSession, String) => DataFrame = f

  // ------------------------------------------------------------- oracles

  /** Shared DuckDB fragments mirroring the Column expressions above. */
  private object Frag {
    // whitespace tokens of `text`, empties dropped
    val wordsCte =
      """w AS (SELECT doc_id, lang, text, trim(text) AS tt,
        |  list_filter(regexp_split_to_array(trim(text), '\s+'), w -> len(w) > 0) AS ws
        |  FROM documents)""".stripMargin
    // 3-gram shingles (short docs → whole trimmed text)
    val shinglesCte =
      """sh AS (SELECT doc_id, CASE WHEN len(ws) < 3 THEN [tt]
        |  ELSE list_transform(range(0, len(ws)-2), i -> array_to_string(ws[i+1:i+3], ' ')) END AS sh
        |  FROM w)""".stripMargin
    def stopIn(ws: Seq[String]): String = ws.map(w => s"'$w'").mkString(", ")
    // strict left-fold dot product over 1-based double lists
    def dot(a: String, b: String): String =
      s"list_reduce(list_prepend(0.0, list_transform(range(1, len($a)+1), i -> $a[i]*$b[i])), (acc, x) -> acc + x)"
    def l2sq(a: String, b: String): String =
      s"list_reduce(list_prepend(0.0, list_transform(range(1, len($a)+1), i -> ($a[i]-$b[i])*($a[i]-$b[i]))), (acc, x) -> acc + x)"
    def cosine(a: String, b: String): String =
      s"${dot(a, b)} / (sqrt(${dot(a, a)}) * sqrt(${dot(b, b)}))"
    val embCte =
      "e AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v FROM embeddings)"
  }

  private def llmOracles: Map[String, String] = {
    val stopwords = Frag.stopIn(TextFunctions.defaultStopwords)
    val nStop = s"len(list_filter(ws, x -> x IN ($stopwords)))"
    val langCounts = TextFunctions.langMarkers.map { case (lang, ms) =>
      lang -> s"len(list_filter(ws, x -> x IN (${Frag.stopIn(ms)})))"
    }
    // CASE chain identical to TextFunctions.langId (priority = declaration order)
    val langCase = {
      val body = langCounts.zipWithIndex.dropRight(1).map { case ((lang, cnt), i) =>
        val conds = langCounts.drop(i + 1).map { case (_, o) => s"$cnt >= $o" }.mkString(" AND ")
        s"WHEN $conds THEN '$lang'"
      }.mkString(" ")
      s"CASE $body ELSE '${langCounts.last._1}' END"
    }
    // one salted md5 = four 8-hex-char minhash lanes (mirrors
    // TextDedup.minhashSignatures)
    val sigList = (0 until 12).map { i =>
      s"list_min(list_transform(sh, s -> substring(md5('${i / 4}:' || s), ${(i % 4) * 8 + 1}, 8)))"
    }.mkString("[", ", ", "]")
    // per-document 64-bit simhash as two 32-bit halves (hi64, lo64), from
    // the same md5-derived token hash GraftExpressions.md5Half64 computes:
    // hi = md5 hex chars 1-8, lo = chars 9-16; per-bit majority vote.
    // Token-less documents (empty text) hash to 0 via the left join.
    val simhashCte =
      """tok AS (SELECT doc_id, unnest(ws) AS tk FROM w),
        |th AS (SELECT doc_id,
        |  CAST('0x' || substr(md5(tk), 1, 8) AS BIGINT) AS hi,
        |  CAST('0x' || substr(md5(tk), 9, 8) AS BIGINT) AS lo FROM tok),
        |votes AS (SELECT doc_id, b,
        |  sum((CASE WHEN b < 32 THEN (lo >> b) & 1 ELSE (hi >> (b - 32)) & 1 END) * 2 - 1) AS vote
        |  FROM th CROSS JOIN generate_series(0, 63) AS gb(b) GROUP BY doc_id, b),
        |shd AS (SELECT doc_id,
        |  CAST(sum(CASE WHEN vote > 0 AND b >= 32 THEN (CAST(1 AS BIGINT) << (b - 32)) ELSE 0 END) AS BIGINT) AS hi64,
        |  CAST(sum(CASE WHEN vote > 0 AND b < 32 THEN (CAST(1 AS BIGINT) << b) ELSE 0 END) AS BIGINT) AS lo64
        |  FROM votes GROUP BY doc_id),
        |shx AS (SELECT d.doc_id, coalesce(s.hi64, 0) AS hi64, coalesce(s.lo64, 0) AS lo64
        |  FROM documents d LEFT JOIN shd s ON d.doc_id = s.doc_id)""".stripMargin
    // rolling hash / byte stats: documents are ASCII, so UTF-8 bytes ≡ code
    // points and unicode(text[i]) enumerates the byte stream
    def byteFold(expr: String): String =
      s"list_reduce(list_prepend(CAST(0 AS BIGINT), " +
        s"list_transform(range(1, length(text)+1), i -> CAST(unicode(text[i]) AS BIGINT))), $expr)"

    Map(
      "q_text_stats" ->
        s"""WITH ${Frag.wordsCte}
           |SELECT doc_id, len(ws) AS n_tokens,
           |  CAST(len(regexp_extract_all(text, '[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9\\s]')) AS BIGINT) AS n_bpe_tokens,
           |  CAST(length(text) AS BIGINT) AS n_chars,
           |  CAST(length(text) - length(regexp_replace(text, '[^a-zA-Z0-9\\s]', '', 'g')) AS BIGINT) AS n_punct,
           |  CAST($nStop AS BIGINT) AS n_stopwords
           |FROM w ORDER BY doc_id""".stripMargin,
      "q_quality_score" ->
        s"""WITH ${Frag.wordsCte}
           |SELECT doc_id, CAST(floor((
           |  0.4 * (CASE WHEN CAST(len(ws) AS DOUBLE) > 0 THEN CAST($nStop AS DOUBLE) / CAST(len(ws) AS DOUBLE) ELSE 0.0 END)
           |  + 0.3 * least(1.0, CAST(len(ws) AS DOUBLE) / 100.0)
           |  + 0.3 * (1.0 - (CASE WHEN CAST(length(text) AS DOUBLE) > 0 THEN CAST(length(text) - length(regexp_replace(text, '[^a-zA-Z0-9\\s]', '', 'g')) AS DOUBLE) / CAST(length(text) AS DOUBLE) ELSE 0.0 END))
           |) * 10000) AS BIGINT) AS score_bp
           |FROM w ORDER BY doc_id""".stripMargin,
      "q_lang_id" ->
        s"""WITH ${Frag.wordsCte}
           |SELECT doc_id, lang, $langCase AS predicted FROM w ORDER BY doc_id""".stripMargin,
      "q_dedup_exact" ->
        s"""WITH ${Frag.wordsCte},
           |p AS (SELECT doc_id, md5(array_to_string(ws[1:5], ' ')) AS prefix_hash FROM w)
           |SELECT prefix_hash, count(*) AS n_docs, min(doc_id) AS min_doc_id
           |FROM p GROUP BY 1 ORDER BY 1""".stripMargin,
      "q_doc_fingerprint" ->
        """SELECT doc_id, md5(text) AS fp, CAST(length(text) AS BIGINT) AS n_chars
          |FROM documents ORDER BY doc_id""".stripMargin,
      "q_ngram_jaccard" ->
        s"""WITH ${Frag.wordsCte},
           |${Frag.shinglesCte},
           |dd AS (SELECT doc_id, list_distinct(sh) AS ds FROM sh)
           |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
           |  CAST(len(list_intersect(a.ds, b.ds)) AS BIGINT) AS inter_size,
           |  CAST(len(a.ds) + len(b.ds) - len(list_intersect(a.ds, b.ds)) AS BIGINT) AS union_size
           |FROM dd a JOIN dd b ON b.doc_id = a.doc_id + 1 ORDER BY doc_a""".stripMargin,
      "q_minhash_pairs" ->
        s"""WITH ${Frag.wordsCte},
           |${Frag.shinglesCte},
           |sig AS (SELECT doc_id, $sigList AS sig FROM sh),
           |bands AS (SELECT doc_id, j, md5(array_to_string(sig[j*2+1:j*2+2], ',')) AS bh
           |  FROM sig CROSS JOIN generate_series(0, 5) AS tt(j))
           |SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
           |FROM bands a JOIN bands b ON a.j = b.j AND a.bh = b.bh AND a.doc_id < b.doc_id
           |ORDER BY doc_a, doc_b""".stripMargin,
      "q_incremental_dedup" ->
        s"""WITH ${Frag.wordsCte},
           |${Frag.shinglesCte},
           |sig AS (SELECT doc_id, $sigList AS sig FROM sh),
           |bands AS (SELECT doc_id, j, md5(array_to_string(sig[j*2+1:j*2+2], ',')) AS bh
           |  FROM sig CROSS JOIN generate_series(0, 5) AS tt(j))
           |SELECT DISTINCT h.doc_id AS history_id, b.doc_id AS batch_id
           |FROM bands h JOIN bands b ON h.j = b.j AND h.bh = b.bh
           |  AND h.doc_id % 10 <> 0 AND b.doc_id % 10 = 0
           |ORDER BY history_id, batch_id""".stripMargin,
      "q_repeated_spans" ->
        s"""WITH ${Frag.wordsCte},
           |pos AS (SELECT doc_id, ws, unnest(generate_series(1, len(ws) - 7)) AS i FROM w),
           |wins AS (SELECT DISTINCT doc_id,
           |    md5(array_to_string(ws[i:i+7], ' ')) AS fp FROM pos)
           |SELECT fp, count(*) AS n_docs, min(doc_id) AS min_doc_id
           |FROM wins GROUP BY fp HAVING count(*) >= 2
           |ORDER BY fp""".stripMargin,
      "q_spans_chunked" ->
        s"""WITH ${Frag.wordsCte},
           |chunks AS (SELECT doc_id,
           |    unnest([ws[1:len(ws)//2], ws[len(ws)//2+1:len(ws)]]) AS cw FROM w),
           |pos AS (SELECT doc_id, cw, unnest(generate_series(1, len(cw) - 7)) AS i FROM chunks),
           |wins AS (SELECT DISTINCT doc_id,
           |    md5(array_to_string(cw[i:i+7], ' ')) AS fp FROM pos)
           |SELECT fp, count(*) AS n_docs, min(doc_id) AS min_doc_id
           |FROM wins GROUP BY fp HAVING count(*) >= 2
           |ORDER BY fp""".stripMargin,
      "q_mask_spans" ->
        s"""WITH ${Frag.wordsCte},
           |pos AS (SELECT doc_id, ws, unnest(generate_series(1, len(ws) - 7)) AS i FROM w),
           |wins AS (SELECT doc_id, i, md5(array_to_string(ws[i:i+7], ' ')) AS fp FROM pos),
           |rep AS (SELECT fp FROM (SELECT DISTINCT doc_id, fp FROM wins)
           |  GROUP BY fp HAVING count(*) >= 2),
           |starts AS (SELECT w2.doc_id, list(DISTINCT w2.i) AS ms
           |  FROM wins w2 JOIN rep USING (fp) GROUP BY w2.doc_id),
           |masked AS (SELECT w.doc_id,
           |    CASE WHEN len(ws) > 0 THEN
           |      list_filter(generate_series(1, len(ws)),
           |        i -> NOT list_has_any(generate_series(greatest(1, i - 7), i),
           |                              coalesce(ms, [])))
           |    ELSE [] END AS kept, ws
           |  FROM w LEFT JOIN starts USING (doc_id))
           |SELECT doc_id,
           |  -- duckdb: array_to_string([]) is NULL, spark concat_ws is ''
           |  md5(coalesce(array_to_string(list_transform(kept, i -> ws[i]), ' '), '')) AS masked_fp,
           |  CAST(len(ws) - len(kept) AS BIGINT) AS n_masked_tokens
           |FROM masked ORDER BY doc_id""".stripMargin,
      "q_bloom_dedup" ->
        """SELECT d.doc_id, md5(d.text) AS fp FROM documents d
          |WHERE d.doc_id % 3 = 0
          |  AND md5(d.text) NOT IN
          |    (SELECT md5(text) FROM documents WHERE doc_id % 3 <> 0)
          |ORDER BY d.doc_id""".stripMargin,
      "q_corpus_dedup" ->
        s"""WITH RECURSIVE ${Frag.wordsCte},
           |${Frag.shinglesCte},
           |dd AS (SELECT doc_id, list_distinct(sh) AS ds FROM sh),
           |sig AS (SELECT doc_id, $sigList AS sig FROM sh),
           |bands AS (SELECT doc_id, j, md5(array_to_string(sig[j*2+1:j*2+2], ',')) AS bh
           |  FROM sig CROSS JOIN generate_series(0, 5) AS tt(j)),
           |cand AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
           |  FROM bands a JOIN bands b ON a.j = b.j AND a.bh = b.bh AND a.doc_id < b.doc_id),
           |ver AS (SELECT doc_a, doc_b FROM cand
           |  JOIN dd da ON da.doc_id = cand.doc_a
           |  JOIN dd db ON db.doc_id = cand.doc_b
           |  WHERE 2 * len(list_intersect(da.ds, db.ds)) >=
           |    (len(da.ds) + len(db.ds) - len(list_intersect(da.ds, db.ds)))),
           |ed AS (SELECT doc_a AS src, doc_b AS dst FROM ver
           |  UNION ALL SELECT doc_b, doc_a FROM ver),
           |reach AS (
           |  SELECT doc_id AS id, doc_id AS rep FROM documents
           |  UNION
           |  SELECT ed.src, reach.rep FROM ed JOIN reach ON ed.dst = reach.id)
           |SELECT id AS doc_id FROM reach GROUP BY id HAVING min(rep) = id
           |ORDER BY doc_id""".stripMargin,
      "q_split_leakfree" ->
        s"""WITH RECURSIVE ${Frag.wordsCte},
           |${Frag.shinglesCte},
           |dd AS (SELECT doc_id, list_distinct(sh) AS ds FROM sh),
           |sig AS (SELECT doc_id, $sigList AS sig FROM sh),
           |bands AS (SELECT doc_id, j, md5(array_to_string(sig[j*2+1:j*2+2], ',')) AS bh
           |  FROM sig CROSS JOIN generate_series(0, 5) AS tt(j)),
           |cand AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
           |  FROM bands a JOIN bands b ON a.j = b.j AND a.bh = b.bh AND a.doc_id < b.doc_id),
           |ver AS (SELECT doc_a, doc_b FROM cand
           |  JOIN dd da ON da.doc_id = cand.doc_a
           |  JOIN dd db ON db.doc_id = cand.doc_b
           |  WHERE 2 * len(list_intersect(da.ds, db.ds)) >=
           |    (len(da.ds) + len(db.ds) - len(list_intersect(da.ds, db.ds)))),
           |ed AS (SELECT doc_a AS src, doc_b AS dst FROM ver
           |  UNION ALL SELECT doc_b, doc_a FROM ver),
           |reach AS (
           |  SELECT doc_id AS id, doc_id AS rep FROM documents
           |  UNION
           |  SELECT ed.src, reach.rep FROM ed JOIN reach ON ed.dst = reach.id),
           |cl AS (SELECT id AS doc_id, min(rep) AS cluster FROM reach GROUP BY id)
           |SELECT doc_id, cluster,
           |  CASE WHEN CAST('0x' || substring(md5('split:' || CAST(cluster AS VARCHAR)), 1, 2) AS INTEGER) < 26
           |    THEN 'eval' ELSE 'train' END AS split
           |FROM cl ORDER BY doc_id""".stripMargin,
      "q_cosine_topk" ->
        s"""WITH ${Frag.embCte},
           |q AS (SELECT vec_id AS query_id, v AS qv FROM e WHERE vec_id < 8),
           |s AS (SELECT q.query_id, e.vec_id AS neighbor_id,
           |  ${Frag.cosine("q.qv", "e.v")} AS sim
           |  FROM e CROSS JOIN q WHERE e.vec_id != q.query_id)
           |SELECT query_id, CAST(row_number() OVER (PARTITION BY query_id ORDER BY sim DESC, neighbor_id ASC) AS INTEGER) AS "rank", neighbor_id
           |FROM s QUALIFY "rank" <= 5 ORDER BY query_id, "rank"""".stripMargin,
      "q_ivf_topk" ->
        s"""WITH ${Frag.embCte},
           |c AS (SELECT vec_id AS cent_id, v AS cv FROM e WHERE vec_id < 16),
           |ad AS (SELECT e.vec_id, e.v, c.cent_id, ${Frag.l2sq("e.v", "c.cv")} AS dist FROM e CROSS JOIN c),
           |cl AS (SELECT vec_id, v, cent_id AS cell FROM
           |  (SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY dist ASC, cent_id ASC) AS rn FROM ad)
           |  WHERE rn = 1),
           |q AS (SELECT vec_id AS query_id, v AS qv, cell FROM cl WHERE vec_id < 8),
           |s AS (SELECT q.query_id, cl.vec_id AS neighbor_id, ${Frag.cosine("q.qv", "cl.v")} AS sim
           |  FROM cl JOIN q ON cl.cell = q.cell AND cl.vec_id != q.query_id)
           |SELECT query_id, CAST(row_number() OVER (PARTITION BY query_id ORDER BY sim DESC, neighbor_id ASC) AS INTEGER) AS "rank", neighbor_id
           |FROM s QUALIFY "rank" <= 3 ORDER BY query_id, "rank"""".stripMargin,
      "q_ivf_probe" ->
        s"""WITH ${Frag.embCte},
           |c AS (SELECT vec_id AS cent_id, v AS cv FROM e WHERE vec_id < 16),
           |ad AS (SELECT e.vec_id, e.v, c.cent_id, ${Frag.l2sq("e.v", "c.cv")} AS dist FROM e CROSS JOIN c),
           |cl AS (SELECT vec_id, v, cent_id AS cell FROM
           |  (SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY dist ASC, cent_id ASC) AS rn FROM ad)
           |  WHERE rn = 1),
           |q0 AS (SELECT vec_id AS query_id, v AS qv FROM e WHERE vec_id < 8),
           |prd AS (SELECT q0.query_id, q0.qv, c.cent_id, ${Frag.l2sq("q0.qv", "c.cv")} AS dist
           |  FROM q0 CROSS JOIN c),
           |pr AS (SELECT query_id, qv, cent_id AS cell FROM
           |  (SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY dist ASC, cent_id ASC) AS rn FROM prd)
           |  WHERE rn <= 2),
           |s AS (SELECT pr.query_id, cl.vec_id AS neighbor_id, ${Frag.cosine("pr.qv", "cl.v")} AS sim
           |  FROM cl JOIN pr ON cl.cell = pr.cell AND cl.vec_id != pr.query_id)
           |SELECT query_id, CAST(row_number() OVER (PARTITION BY query_id ORDER BY sim DESC, neighbor_id ASC) AS INTEGER) AS "rank", neighbor_id
           |FROM s QUALIFY "rank" <= 3 ORDER BY query_id, "rank"""".stripMargin,
      "q_embedding_incremental" ->
        s"""WITH ${Frag.embCte}
           |SELECT h.vec_id AS history_id, b.vec_id AS batch_id
           |FROM e h JOIN e b ON h.vec_id % 10 <> 0 AND b.vec_id % 10 = 0
           |  AND ${Frag.cosine("h.v", "b.v")} > 0.3
           |ORDER BY history_id, batch_id""".stripMargin,
      "q_embedding_neardup" ->
        s"""WITH ${Frag.embCte},
           |c AS (SELECT vec_id AS cent_id, v AS cv FROM e WHERE vec_id < 16),
           |ad AS (SELECT e.vec_id, e.v, c.cent_id, ${Frag.l2sq("e.v", "c.cv")} AS dist FROM e CROSS JOIN c),
           |cl AS (SELECT vec_id, v, cent_id AS cell FROM
           |  (SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY dist ASC, cent_id ASC) AS rn FROM ad)
           |  WHERE rn = 1)
           |SELECT vec_a, vec_b FROM (
           |  SELECT a.vec_id AS vec_a, b.vec_id AS vec_b, ${Frag.cosine("a.v", "b.v")} AS sim
           |  FROM cl a JOIN cl b ON a.cell = b.cell AND a.vec_id < b.vec_id)
           |WHERE sim > 0.3 ORDER BY vec_a, vec_b""".stripMargin,
      "q_token_freq" ->
        s"""WITH ${Frag.wordsCte}
           |SELECT token, count(*) AS freq FROM (SELECT unnest(ws) AS token FROM w)
           |GROUP BY token ORDER BY freq DESC, token ASC LIMIT 50""".stripMargin,
      "q_doc_histogram" ->
        """SELECT CAST(floor(length(text) / 50.0) * 50 AS BIGINT) AS bucket,
          |count(*) AS n_docs FROM documents GROUP BY 1 ORDER BY 1""".stripMargin,
      "q_dedup_cluster" ->
        s"""WITH RECURSIVE
           |${Frag.embCte},
           |cen AS (SELECT vec_id AS cent_id, v AS cv FROM e WHERE vec_id < 16),
           |ad AS (SELECT e.vec_id, e.v, cen.cent_id, ${Frag.l2sq("e.v", "cen.cv")} AS dist FROM e CROSS JOIN cen),
           |cl AS (SELECT vec_id, v, cent_id AS cell FROM
           |  (SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY dist ASC, cent_id ASC) AS rn FROM ad)
           |  WHERE rn = 1),
           |p AS (SELECT vec_a, vec_b FROM (
           |  SELECT a.vec_id AS vec_a, b.vec_id AS vec_b, ${Frag.cosine("a.v", "b.v")} AS sim
           |  FROM cl a JOIN cl b ON a.cell = b.cell AND a.vec_id < b.vec_id) WHERE sim > 0.3),
           |ed AS (SELECT vec_a AS src, vec_b AS dst FROM p UNION ALL SELECT vec_b, vec_a FROM p),
           |reach AS (
           |  SELECT vec_id AS id, vec_id AS rep FROM e
           |  UNION
           |  SELECT ed.src, reach.rep FROM ed JOIN reach ON ed.dst = reach.id)
           |SELECT id AS vec_id, min(rep) AS cluster FROM reach GROUP BY id
           |HAVING min(rep) != id ORDER BY vec_id""".stripMargin,
      "q_multimodal_meta" ->
        """SELECT doc_id, CAST(octet_length(encode(text)) AS BIGINT) AS byte_len,
          |CAST(floor(octet_length(encode(text)) / 256.0) AS BIGINT) AS n_frames,
          |CAST(octet_length(encode(text)) % 251 AS BIGINT) AS stub_code
          |FROM documents ORDER BY doc_id""".stripMargin,
      "q_simhash" ->
        s"""WITH ${Frag.wordsCte},
           |$simhashCte
           |SELECT doc_id, printf('%08x%08x', hi64, lo64) AS simhash_hex
           |FROM shx ORDER BY doc_id""".stripMargin,
      "q_simhash_pairs" ->
        s"""WITH ${Frag.wordsCte},
           |$simhashCte,
           |bands AS (SELECT doc_id, gb.i AS band_idx,
           |  CASE gb.i WHEN 0 THEN lo64 & 65535 WHEN 1 THEN (lo64 >> 16) & 65535
           |            WHEN 2 THEN hi64 & 65535 ELSE (hi64 >> 16) & 65535 END AS band_val,
           |  hi64, lo64
           |  FROM shx CROSS JOIN generate_series(0, 3) AS gb(i))
           |SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
           |  CAST(bit_count(xor(a.hi64, b.hi64)) + bit_count(xor(a.lo64, b.lo64)) AS BIGINT) AS hamming
           |FROM bands a JOIN bands b
           |  ON a.band_idx = b.band_idx AND a.band_val = b.band_val AND a.doc_id < b.doc_id
           |ORDER BY doc_a, doc_b""".stripMargin,
      "q_rolling_hash" ->
        s"""SELECT doc_id, ${byteFold("(h, b) -> (h * 257 + b) % 1000000007")} AS rhash
           |FROM documents ORDER BY doc_id""".stripMargin,
      // mirrors Multimodal.syntheticMediaFrame's arithmetic exactly: the
      // Spark side PARSES these values back out of real PNG/GIF/WAV/JPEG/
      // MP3 header bytes; the oracle recomputes them from doc_id + body
      // length (header sizes: png 33, gif 13, wav 44, jpeg 15, mp3 4)
      "q_media_features" ->
        """WITH m AS (SELECT doc_id, octet_length(encode(text)) AS flen,
          |  doc_id % 5 AS kind,
          |  1 + doc_id % 512 AS w, 1 + (doc_id // 7) % 512 AS h,
          |  1 + doc_id % 2 AS ch, 8000 * (1 + (doc_id // 3) % 3) AS wrate,
          |  CASE (doc_id // 5) % 3 WHEN 0 THEN 128 WHEN 1 THEN 192 ELSE 320 END AS kbps,
          |  CASE (doc_id // 7) % 3 WHEN 0 THEN 44100 WHEN 1 THEN 48000 ELSE 32000 END AS mrate
          |  FROM documents)
          |SELECT doc_id,
          |  CASE kind WHEN 0 THEN 'png' WHEN 1 THEN 'gif' WHEN 2 THEN 'wav'
          |            WHEN 3 THEN 'jpeg' ELSE 'mp3' END AS media_kind,
          |  CAST(CASE kind WHEN 0 THEN 33 WHEN 1 THEN 13 WHEN 2 THEN 44
          |                 WHEN 3 THEN 15 ELSE 4 END + flen AS BIGINT) AS byte_len,
          |  CAST(CASE WHEN kind IN (2, 4) THEN 0 ELSE w END AS BIGINT) AS width,
          |  CAST(CASE WHEN kind IN (2, 4) THEN 0 ELSE h END AS BIGINT) AS height,
          |  CAST(CASE WHEN kind IN (2, 4) THEN 0 ELSE 8 END AS BIGINT) AS bit_depth,
          |  CAST(CASE WHEN kind IN (2, 4) THEN ch ELSE 0 END AS BIGINT) AS channels,
          |  CAST(CASE kind WHEN 2 THEN wrate WHEN 4 THEN mrate ELSE 0 END AS BIGINT) AS sample_rate,
          |  CAST(CASE kind WHEN 2 THEN flen * 1000 // (wrate * ch * 2)
          |                 WHEN 4 THEN (4 + flen) * 8000 // (kbps * 1000)
          |                 ELSE 0 END AS BIGINT) AS duration_ms
          |FROM m ORDER BY doc_id""".stripMargin,
      "q_kmeans_step" ->
        s"""WITH ${Frag.embCte},
           |c AS (SELECT vec_id AS cent_id, v AS cv FROM e WHERE vec_id < 16),
           |ad AS (SELECT e.vec_id, e.v, c.cent_id, ${Frag.l2sq("e.v", "c.cv")} AS dist FROM e CROSS JOIN c),
           |cl AS (SELECT vec_id, v, cent_id AS cell FROM
           |  (SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY dist ASC, cent_id ASC) AS rn FROM ad)
           |  WHERE rn = 1),
           |dims AS (SELECT cell,
           |  unnest(list_transform(range(0, len(v)), i ->
           |    {'dim': i, 'xs': CAST(round(v[i+1] * 1e6) AS BIGINT)})) AS u
           |  FROM cl)
           |SELECT CAST(cell AS BIGINT) AS cell, CAST(u.dim AS BIGINT) AS dim,
           |  CAST(sum(u.xs) AS BIGINT) AS sum_scaled, count(*) AS n
           |FROM dims GROUP BY 1, 2 ORDER BY cell, dim""".stripMargin,
      "q_top_docs" ->
        s"""WITH ${Frag.wordsCte},
           |qs AS (SELECT doc_id, lang, CAST(floor((
           |  0.4 * (CASE WHEN CAST(len(ws) AS DOUBLE) > 0 THEN CAST(len(list_filter(ws, x -> x IN ($stopwords))) AS DOUBLE) / CAST(len(ws) AS DOUBLE) ELSE 0.0 END)
           |  + 0.3 * least(1.0, CAST(len(ws) AS DOUBLE) / 100.0)
           |  + 0.3 * (1.0 - (CASE WHEN CAST(length(text) AS DOUBLE) > 0 THEN CAST(length(text) - length(regexp_replace(text, '[^a-zA-Z0-9\\s]', '', 'g')) AS DOUBLE) / CAST(length(text) AS DOUBLE) ELSE 0.0 END))
           |) * 10000) AS BIGINT) AS score_bp FROM w),
           |j AS (SELECT d.doc_id, d.source, qs.score_bp,
           |  CAST(row_number() OVER (PARTITION BY d.source ORDER BY qs.score_bp DESC, d.doc_id ASC) AS BIGINT) AS rnk
           |  FROM documents d JOIN qs ON qs.doc_id = d.doc_id)
           |SELECT doc_id, source, score_bp, rnk FROM j WHERE rnk <= 3
           |ORDER BY source, rnk""".stripMargin,
      "q_tfidf" ->
        s"""WITH ${Frag.wordsCte},
           |tok AS (SELECT doc_id, unnest(ws) AS token FROM w),
           |tf AS (SELECT doc_id, token, count(*) AS tf FROM tok GROUP BY 1, 2),
           |dfr AS (SELECT token, count(*) AS df FROM (SELECT DISTINCT doc_id, token FROM tok) GROUP BY 1),
           |r AS (SELECT tf.doc_id, tf.token, tf.tf, dfr.df,
           |  CAST(row_number() OVER (PARTITION BY tf.doc_id
           |    ORDER BY CAST(tf.tf AS DOUBLE) / CAST(dfr.df AS DOUBLE) DESC, tf.token ASC) AS BIGINT) AS rnk
           |  FROM tf JOIN dfr USING (token))
           |SELECT doc_id, token, tf, df, rnk FROM r WHERE rnk <= 3
           |ORDER BY doc_id, rnk""".stripMargin,
      "q_top_orders" ->
        """SELECT o_orderkey, strftime(o_orderdate, '%Y-%m-%d') AS order_date,
          |  CAST(sum(CAST(round(l_extendedprice * (1 - l_discount) * 100) AS BIGINT)) AS BIGINT) AS revenue_cents
          |FROM customer
          |JOIN orders ON c_custkey = o_custkey
          |JOIN lineitem ON o_orderkey = l_orderkey
          |WHERE c_mktsegment = 'BUILDING'
          |GROUP BY 1, 2 ORDER BY revenue_cents DESC, o_orderkey ASC LIMIT 10""".stripMargin,
      "q_length_quantiles" ->
        """WITH r AS (SELECT lang, doc_id, CAST(length(text) AS BIGINT) AS n_chars,
          |  row_number() OVER (PARTITION BY lang ORDER BY length(text), doc_id) AS rn,
          |  count(*) OVER (PARTITION BY lang) AS cnt FROM documents)
          |SELECT lang,
          |  max(CASE WHEN rn = CAST(ceil(cnt * 0.5) AS BIGINT) THEN n_chars END) AS p50_chars,
          |  max(CASE WHEN rn = CAST(ceil(cnt * 0.9) AS BIGINT) THEN n_chars END) AS p90_chars,
          |  CAST(max(cnt) AS BIGINT) AS n_docs
          |FROM r GROUP BY lang ORDER BY lang""".stripMargin,
      "q_quantize" ->
        s"""WITH ${Frag.embCte},
           |q AS (SELECT vec_id, v,
           |  list_min(v) AS qmin, list_max(v) AS qmax,
           |  (list_max(v) - list_min(v)) / 255.0 AS s FROM e),
           |c AS (SELECT vec_id, qmin, qmax,
           |  CASE WHEN s = 0 THEN list_transform(v, x -> CAST(0 AS BIGINT))
           |       ELSE list_transform(v, x -> CAST(round((x - qmin) / s) AS BIGINT)) END AS codes
           |  FROM q)
           |SELECT vec_id, qmin, qmax,
           |  list_reduce(list_prepend(CAST(0 AS BIGINT), codes), (a, x) -> a + x) AS code_sum,
           |  md5(array_to_string(codes, ',')) AS code_fp
           |FROM c ORDER BY vec_id""".stripMargin,
      "q_redact" ->
        """SELECT doc_id,
          |  CAST(len(regexp_extract_all(text, '[0-9]+')) AS BIGINT) AS n_redacted,
          |  md5(regexp_replace(text, '[0-9]+', '#', 'g')) AS redacted_fp
          |FROM documents ORDER BY doc_id""".stripMargin,
      "q_sessionize" ->
        """WITH e AS (SELECT user_id, event_id, epoch_us(ts) AS us FROM events),
          |l AS (SELECT user_id, event_id, us,
          |  lag(us) OVER (PARTITION BY user_id ORDER BY us, event_id) AS prev FROM e),
          |b AS (SELECT user_id, event_id, us,
          |  CASE WHEN prev IS NULL OR us - prev > 1800000000 THEN 1 ELSE 0 END AS brk FROM l),
          |sess AS (SELECT user_id, us,
          |  sum(brk) OVER (PARTITION BY user_id ORDER BY us, event_id ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_id FROM b)
          |SELECT user_id, CAST(session_id AS BIGINT) AS session_id,
          |  count(*) AS n_events, min(us) AS start_us, max(us) AS end_us
          |FROM sess GROUP BY 1, 2 ORDER BY user_id, session_id""".stripMargin,
      "q_asof_join" ->
        """WITH e AS (SELECT event_id, user_id, event_type, epoch_us(ts) AS us, value FROM events),
          |c AS (SELECT event_id, user_id, us FROM e WHERE event_type = 'click'),
          |p AS (SELECT user_id, us AS p_us, max(event_id) AS p_event_id,
          |      arg_max(value, event_id) AS p_value
          |      FROM e WHERE event_type = 'purchase' GROUP BY 1, 2)
          |SELECT c.event_id, c.user_id, c.us, p.p_event_id, p.p_value
          |FROM c ASOF JOIN p ON c.user_id = p.user_id AND c.us >= p.p_us
          |ORDER BY c.event_id""".stripMargin,
      "q_asof_forward" ->
        """WITH e AS (SELECT event_id, user_id, event_type, epoch_us(ts) AS us, value FROM events),
          |c AS (SELECT event_id, user_id, us FROM e WHERE event_type = 'click'),
          |p AS (SELECT user_id, us AS p_us, max(event_id) AS p_event_id,
          |      arg_max(value, event_id) AS p_value
          |      FROM e WHERE event_type = 'purchase' GROUP BY 1, 2),
          |j AS (SELECT c.event_id, c.user_id, c.us, p.p_event_id, p.p_value,
          |      row_number() OVER (PARTITION BY c.event_id ORDER BY p.p_us ASC) AS rn
          |      FROM c JOIN p ON c.user_id = p.user_id AND p.p_us >= c.us)
          |SELECT event_id, user_id, us, p_event_id, p_value FROM j WHERE rn = 1
          |ORDER BY event_id""".stripMargin,
      "q_range_join" ->
        """WITH e AS (SELECT event_id, user_id, event_type, epoch_us(ts) AS us, value FROM events),
          |c AS (SELECT user_id, us, value FROM e WHERE event_type = 'click'),
          |p AS (SELECT event_id AS p_event_id, user_id, us AS s,
          |      us + 3600000000 AS eend FROM e WHERE event_type = 'purchase')
          |SELECT p_event_id, count(*) AS n_clicks,
          |  CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS click_cents
          |FROM p JOIN c ON p.user_id = c.user_id AND c.us >= p.s AND c.us < p.eend
          |GROUP BY 1 ORDER BY 1""".stripMargin,
      "q_pq_encode" ->
        s"""WITH ${Frag.embCte},
           |sp AS (SELECT unnest(range(0, 8)) AS subspace),
           |ev AS (SELECT vec_id, subspace, v[subspace*8+1 : subspace*8+8] AS sv FROM e, sp),
           |cv AS (SELECT vec_id AS cent_id, subspace, v[subspace*8+1 : subspace*8+8] AS cs
           |       FROM e, sp WHERE vec_id < 16),
           |d AS (SELECT ev.vec_id, ev.subspace, cv.cent_id, ${Frag.l2sq("ev.sv", "cv.cs")} AS dist
           |      FROM ev JOIN cv USING (subspace))
           |SELECT vec_id, CAST(subspace AS BIGINT) AS subspace, cent_id AS code FROM
           |  (SELECT *, row_number() OVER (PARTITION BY vec_id, subspace ORDER BY dist ASC, cent_id ASC) AS rn FROM d)
           |WHERE rn = 1 ORDER BY vec_id, subspace""".stripMargin,
      "q_pq_topk" ->
        s"""WITH ${Frag.embCte},
           |sp AS (SELECT unnest(range(0, 8)) AS subspace),
           |cv AS (SELECT vec_id AS cent_id, subspace, v[subspace*8+1 : subspace*8+8] AS cs
           |       FROM e, sp WHERE vec_id < 16),
           |ev AS (SELECT vec_id, subspace, v[subspace*8+1 : subspace*8+8] AS sv FROM e, sp),
           |cd AS (SELECT vec_id, subspace, cent_id AS code, cs FROM
           |  (SELECT ev.vec_id, ev.subspace, cv.cent_id, cv.cs,
           |     row_number() OVER (PARTITION BY ev.vec_id, ev.subspace
           |       ORDER BY ${Frag.l2sq("ev.sv", "cv.cs")} ASC, cv.cent_id ASC) AS rn
           |   FROM ev JOIN cv USING (subspace)) WHERE rn = 1),
           |q AS (SELECT vec_id AS query_id, subspace, sv AS qs FROM ev WHERE vec_id < 8),
           |pd AS (SELECT q.query_id, cd.vec_id AS neighbor_id,
           |  CAST(round(${Frag.l2sq("q.qs", "cd.cs")} * 1e6) AS BIGINT) AS qd
           |  FROM q JOIN cd USING (subspace) WHERE q.query_id != cd.vec_id),
           |s AS (SELECT query_id, neighbor_id, CAST(sum(qd) AS BIGINT) AS dist
           |  FROM pd GROUP BY 1, 2)
           |SELECT query_id, CAST(row_number() OVER (PARTITION BY query_id ORDER BY dist ASC, neighbor_id ASC) AS INTEGER) AS "rank", neighbor_id
           |FROM s QUALIFY "rank" <= 3 ORDER BY query_id, "rank"""".stripMargin,
      "q_ivfpq_topk" ->
        s"""WITH ${Frag.embCte},
           |sp AS (SELECT unnest(range(0, 8)) AS subspace),
           |c AS (SELECT vec_id AS cent_id, v AS cv FROM e WHERE vec_id < 16),
           |ad AS (SELECT e.vec_id, c.cent_id, ${Frag.l2sq("e.v", "c.cv")} AS dist FROM e CROSS JOIN c),
           |cl AS (SELECT vec_id, cent_id AS cell FROM
           |  (SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY dist ASC, cent_id ASC) AS rn FROM ad)
           |  WHERE rn = 1),
           |cv AS (SELECT vec_id AS cent_id, subspace, v[subspace*8+1 : subspace*8+8] AS cs
           |       FROM e, sp WHERE vec_id < 16),
           |ev AS (SELECT vec_id, subspace, v[subspace*8+1 : subspace*8+8] AS sv FROM e, sp),
           |cd AS (SELECT vec_id, subspace, cent_id AS code, cs FROM
           |  (SELECT ev.vec_id, ev.subspace, cv.cent_id, cv.cs,
           |     row_number() OVER (PARTITION BY ev.vec_id, ev.subspace
           |       ORDER BY ${Frag.l2sq("ev.sv", "cv.cs")} ASC, cv.cent_id ASC) AS rn
           |   FROM ev JOIN cv USING (subspace)) WHERE rn = 1),
           |q0 AS (SELECT vec_id AS query_id, v AS qv FROM e WHERE vec_id < 8),
           |prd AS (SELECT q0.query_id, c.cent_id, ${Frag.l2sq("q0.qv", "c.cv")} AS dist
           |  FROM q0 CROSS JOIN c),
           |pr AS (SELECT query_id, cent_id AS cell FROM
           |  (SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY dist ASC, cent_id ASC) AS rn FROM prd)
           |  WHERE rn <= 2),
           |cand AS (SELECT pr.query_id, cl.vec_id AS neighbor_id
           |  FROM pr JOIN cl ON cl.cell = pr.cell AND cl.vec_id != pr.query_id),
           |qsl AS (SELECT vec_id AS query_id, subspace, sv FROM ev WHERE vec_id < 8),
           |pd AS (SELECT cand.query_id, cand.neighbor_id,
           |  CAST(round(${Frag.l2sq("qsl.sv", "cd.cs")} * 1e6) AS BIGINT) AS qd
           |  FROM cand
           |  JOIN qsl ON qsl.query_id = cand.query_id
           |  JOIN cd ON cd.vec_id = cand.neighbor_id AND cd.subspace = qsl.subspace),
           |s AS (SELECT query_id, neighbor_id, CAST(sum(qd) AS BIGINT) AS dist
           |  FROM pd GROUP BY 1, 2)
           |SELECT query_id, CAST(row_number() OVER (PARTITION BY query_id ORDER BY dist ASC, neighbor_id ASC) AS INTEGER) AS "rank", neighbor_id
           |FROM s QUALIFY "rank" <= 3 ORDER BY query_id, "rank"""".stripMargin,
      "q_zorder" -> {
        val terms = (0 until 21).map(i =>
          s"(((user_id >> $i) & 1) << ${2 * i}) + (((hour_idx >> $i) & 1) << ${2 * i + 1})")
          .mkString(" + ")
        s"""WITH e AS (SELECT event_id, user_id,
           |  CAST(floor(epoch_us(ts) / 3600000000.0) AS BIGINT) AS hour_idx FROM events)
           |SELECT event_id, user_id, hour_idx, CAST($terms AS BIGINT) AS zval
           |FROM e ORDER BY event_id""".stripMargin
      },
      "q_repetition" ->
        s"""WITH ${Frag.wordsCte},
           |b AS (SELECT doc_id, ws,
           |  CASE WHEN len(ws) < 2 THEN []::VARCHAR[]
           |  ELSE list_transform(range(0, len(ws)-1), i -> ws[i+1] || ' ' || ws[i+2]) END AS bg
           |  FROM w)
           |SELECT doc_id,
           |  CAST(len(ws) AS BIGINT) AS n_tokens,
           |  CAST(len(list_distinct(ws)) AS BIGINT) AS n_distinct_tokens,
           |  CAST(len(list_filter(ws, x -> x = list_aggregate(ws, 'mode'))) AS BIGINT) AS top_token_freq,
           |  CAST(len(bg) AS BIGINT) AS n_bigrams,
           |  CAST(len(list_distinct(bg)) AS BIGINT) AS n_distinct_bigrams
           |FROM b ORDER BY doc_id""".stripMargin,
      "q_seq_pack" ->
        s"""WITH ${Frag.wordsCte},
           |tc AS (SELECT doc_id, CAST(len(ws) AS BIGINT) AS n_tokens FROM w)
           |SELECT doc_id, n_tokens,
           |  CAST(sum(n_tokens) OVER (ORDER BY doc_id ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum_tokens,
           |  CAST(floor((sum(n_tokens) OVER (ORDER BY doc_id ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - n_tokens) / 2048.0) AS BIGINT) AS seq_id
           |FROM tc ORDER BY doc_id""".stripMargin,
      "q_doc_freq" ->
        s"""WITH ${Frag.wordsCte}
           |SELECT token, count(*) AS df
           |FROM (SELECT doc_id, unnest(list_distinct(ws)) AS token FROM w)
           |GROUP BY token HAVING count(*) >= 50
           |ORDER BY df DESC, token ASC""".stripMargin,
      "q_sample_mix" ->
        """SELECT doc_id, source, lang, CAST(length(text) AS BIGINT) AS n_chars
          |FROM documents
          |WHERE CAST('0x' || substring(md5('smp:' || CAST(doc_id AS VARCHAR)), 1, 2) AS INTEGER)
          |  < (CASE WHEN source = 'src0' THEN 128 WHEN source = 'src1' THEN 64 ELSE 32 END)
          |ORDER BY doc_id""".stripMargin,
      "q_quota_sample" ->
        """WITH h AS (SELECT source, doc_id,
          |  CAST('0x' || substring(md5('quota:' || CAST(doc_id AS VARCHAR)), 1, 8) AS BIGINT) AS hh
          |  FROM documents)
          |SELECT source, doc_id FROM
          |  (SELECT source, doc_id, row_number() OVER (PARTITION BY source ORDER BY hh ASC, doc_id ASC) AS rn FROM h)
          |WHERE rn <= 20 ORDER BY source, doc_id""".stripMargin,
      "q_contamination" ->
        s"""WITH ${Frag.wordsCte},
           |${Frag.shinglesCte},
           |ds AS (SELECT doc_id, unnest(list_distinct(sh)) AS s FROM sh),
           |ev AS (SELECT DISTINCT s FROM ds WHERE doc_id % 100 = 0)
           |SELECT ds.doc_id, count(*) AS n_shared
           |FROM ds JOIN ev USING (s)
           |WHERE ds.doc_id % 100 != 0
           |GROUP BY ds.doc_id ORDER BY ds.doc_id""".stripMargin,
      "q_dedup_quality" ->
        s"""WITH RECURSIVE ${Frag.wordsCte},
           |${Frag.shinglesCte},
           |dd AS (SELECT doc_id, list_distinct(sh) AS ds FROM sh),
           |sig AS (SELECT doc_id, $sigList AS sig FROM sh),
           |bands AS (SELECT doc_id, j, md5(array_to_string(sig[j*2+1:j*2+2], ',')) AS bh
           |  FROM sig CROSS JOIN generate_series(0, 5) AS tt(j)),
           |cand AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
           |  FROM bands a JOIN bands b ON a.j = b.j AND a.bh = b.bh AND a.doc_id < b.doc_id),
           |ver AS (SELECT doc_a, doc_b FROM cand
           |  JOIN dd da ON da.doc_id = cand.doc_a
           |  JOIN dd db ON db.doc_id = cand.doc_b
           |  WHERE 2 * len(list_intersect(da.ds, db.ds)) >=
           |    (len(da.ds) + len(db.ds) - len(list_intersect(da.ds, db.ds)))),
           |ed AS (SELECT doc_a AS src, doc_b AS dst FROM ver
           |  UNION ALL SELECT doc_b, doc_a FROM ver),
           |reach AS (
           |  SELECT doc_id AS id, doc_id AS rep FROM documents
           |  UNION
           |  SELECT ed.src, reach.rep FROM ed JOIN reach ON ed.dst = reach.id),
           |cl AS (SELECT id, min(rep) AS cluster FROM reach GROUP BY id),
           |qs AS (SELECT doc_id, CAST(floor((
           |  0.4 * (CASE WHEN CAST(len(ws) AS DOUBLE) > 0 THEN CAST(len(list_filter(ws, x -> x IN ($stopwords))) AS DOUBLE) / CAST(len(ws) AS DOUBLE) ELSE 0.0 END)
           |  + 0.3 * least(1.0, CAST(len(ws) AS DOUBLE) / 100.0)
           |  + 0.3 * (1.0 - (CASE WHEN CAST(length(text) AS DOUBLE) > 0 THEN CAST(length(text) - length(regexp_replace(text, '[^a-zA-Z0-9\\s]', '', 'g')) AS DOUBLE) / CAST(length(text) AS DOUBLE) ELSE 0.0 END))
           |) * 10000) AS BIGINT) AS score_bp FROM w)
           |SELECT cluster, doc_id, score_bp FROM (
           |  SELECT cl.cluster, qs.doc_id, qs.score_bp,
           |    row_number() OVER (PARTITION BY cl.cluster ORDER BY qs.score_bp DESC, qs.doc_id ASC) AS rn
           |  FROM cl JOIN qs ON qs.doc_id = cl.id)
           |WHERE rn = 1 ORDER BY cluster""".stripMargin,
      "q_shard_balance" ->
        s"""WITH ${Frag.wordsCte},
           |tc AS (SELECT doc_id, CAST(len(ws) AS BIGINT) AS n_tokens FROM w),
           |r AS (SELECT doc_id, n_tokens,
           |  row_number() OVER (ORDER BY n_tokens DESC, doc_id ASC) AS rnk FROM tc)
           |SELECT doc_id, n_tokens, CAST(rnk AS BIGINT) AS rnk,
           |  CAST(CASE WHEN ((rnk-1)//8) % 2 = 0 THEN (rnk-1)%8 ELSE 7-((rnk-1)%8) END AS BIGINT) AS shard
           |FROM r ORDER BY doc_id""".stripMargin,
      "q_chunk_windows" ->
        s"""WITH ${Frag.wordsCte},
           |c AS (SELECT doc_id, ws, CAST(len(ws) AS BIGINT) AS n,
           |  unnest(range(0, CAST(ceil(len(ws)/96.0) AS BIGINT))) AS k
           |  FROM w WHERE len(ws) > 0)
           |SELECT doc_id, CAST(k AS BIGINT) AS chunk_id,
           |  CAST(least(128, n - k*96) AS BIGINT) AS n_chunk_tokens,
           |  md5(array_to_string(ws[k*96+1:k*96+128], ' ')) AS chunk_hash
           |FROM c ORDER BY doc_id, chunk_id""".stripMargin,
      "q_bpe_pairs" ->
        s"""WITH ${Frag.wordsCte},
           |b AS (SELECT CASE WHEN len(ws) < 2 THEN []::VARCHAR[]
           |  ELSE list_transform(range(0, len(ws)-1), i -> ws[i+1] || ' ' || ws[i+2]) END AS bg FROM w),
           |p AS (SELECT unnest(bg) AS pair FROM b)
           |SELECT pair, count(*) AS cnt FROM p GROUP BY pair
           |ORDER BY cnt DESC, pair ASC LIMIT 20""".stripMargin,
      "q_source_temperature" ->
        """WITH c AS (SELECT source, count(*) AS n_docs FROM documents GROUP BY source),
          |s AS (SELECT source, n_docs,
          |  CAST(floor(sqrt(CAST(n_docs AS DOUBLE)) * 1e6 + 0.5) AS BIGINT) AS w FROM c)
          |SELECT source, n_docs,
          |  CAST(floor(CAST(w AS DOUBLE) * 1e6
          |    / CAST((SELECT CAST(sum(w) AS BIGINT) FROM s) AS DOUBLE) + 0.5) AS BIGINT) AS ppm
          |FROM s ORDER BY source""".stripMargin,
      "q_unigram_logprob" ->
        s"""WITH ${Frag.wordsCte},
           |tok AS (SELECT doc_id, unnest(ws) AS token FROM w),
           |dt AS (SELECT doc_id, token, count(*) AS c FROM tok GROUP BY doc_id, token),
           |f AS (SELECT token,
           |  CAST(length(bin(CAST(sum(c) AS BIGINT))) - 1 AS BIGINT) AS bucket
           |  FROM dt GROUP BY token),
           |sc AS (SELECT dt.doc_id, CAST(sum(dt.c) AS BIGINT) AS n_tokens,
           |  CAST(sum(dt.c * f.bucket) AS BIGINT) AS sum_bucket
           |  FROM dt JOIN f USING (token) GROUP BY dt.doc_id)
           |SELECT doc_id, n_tokens, sum_bucket,
           |  CAST(floor(CAST(sum_bucket AS DOUBLE) * 1e4 / CAST(n_tokens AS DOUBLE)) AS BIGINT) AS avg_bucket_e4
           |FROM sc ORDER BY doc_id""".stripMargin,
      "q_bigram_logprob" ->
        s"""WITH ${Frag.wordsCte},
           |bg AS (SELECT doc_id,
           |  unnest(list_transform(range(1, len(ws)), i -> ws[i] || ' ' || ws[i+1])) AS bigram
           |  FROM w WHERE len(ws) >= 2),
           |db AS (SELECT doc_id, bigram, count(*) AS c FROM bg GROUP BY doc_id, bigram),
           |f AS (SELECT bigram,
           |  CAST(length(bin(CAST(sum(c) AS BIGINT))) - 1 AS BIGINT) AS bucket
           |  FROM db GROUP BY bigram),
           |sc AS (SELECT db.doc_id, CAST(sum(db.c) AS BIGINT) AS n_bigrams,
           |  CAST(sum(db.c * f.bucket) AS BIGINT) AS sum_bucket
           |  FROM db JOIN f USING (bigram) GROUP BY db.doc_id)
           |SELECT doc_id, n_bigrams, sum_bucket,
           |  CAST(floor(CAST(sum_bucket AS DOUBLE) * 1e4 / CAST(n_bigrams AS DOUBLE)) AS BIGINT) AS avg_bucket_e4
           |FROM sc ORDER BY doc_id""".stripMargin,
      "q_ann_recall" ->
        s"""WITH ${Frag.embCte},
           |q AS (SELECT vec_id AS query_id, v AS qv FROM e WHERE vec_id < 8),
           |bs AS (SELECT q.query_id, e.vec_id AS neighbor_id,
           |  ${Frag.cosine("q.qv", "e.v")} AS sim
           |  FROM e CROSS JOIN q WHERE e.vec_id != q.query_id),
           |ex AS (SELECT query_id, neighbor_id FROM (SELECT query_id, neighbor_id,
           |  row_number() OVER (PARTITION BY query_id ORDER BY sim DESC, neighbor_id ASC) AS rn FROM bs)
           |  WHERE rn <= 3),
           |c AS (SELECT vec_id AS cent_id, v AS cv FROM e WHERE vec_id < 16),
           |ad AS (SELECT e.vec_id, e.v, c.cent_id, ${Frag.l2sq("e.v", "c.cv")} AS dist FROM e CROSS JOIN c),
           |cl AS (SELECT vec_id, v, cent_id AS cell FROM
           |  (SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY dist ASC, cent_id ASC) AS rn FROM ad)
           |  WHERE rn = 1),
           |qc AS (SELECT vec_id AS query_id, v AS qv, cell FROM cl WHERE vec_id < 8),
           |s2 AS (SELECT qc.query_id, cl.vec_id AS neighbor_id, ${Frag.cosine("qc.qv", "cl.v")} AS sim
           |  FROM cl JOIN qc ON cl.cell = qc.cell AND cl.vec_id != qc.query_id),
           |ap AS (SELECT query_id, neighbor_id FROM (SELECT query_id, neighbor_id,
           |  row_number() OVER (PARTITION BY query_id ORDER BY sim DESC, neighbor_id ASC) AS rn FROM s2)
           |  WHERE rn <= 3),
           |h AS (SELECT query_id, count(*) AS hits FROM ex JOIN ap USING (query_id, neighbor_id)
           |  GROUP BY query_id)
           |SELECT q.query_id, CAST(coalesce(h.hits, 0) AS BIGINT) AS hits,
           |  CAST(floor(coalesce(h.hits, 0) * 1e4 / 3.0) AS BIGINT) AS recall_bp
           |FROM q LEFT JOIN h USING (query_id) ORDER BY query_id""".stripMargin,
      "q_chunk_dedup" ->
        s"""WITH ${Frag.wordsCte},
           |c AS (SELECT doc_id, ws,
           |  unnest(range(0, CAST(ceil(len(ws)/96.0) AS BIGINT))) AS k
           |  FROM w WHERE len(ws) > 0),
           |ch AS (SELECT doc_id, md5(array_to_string(ws[k*96+1:k*96+128], ' ')) AS chunk_hash FROM c),
           |g AS (SELECT chunk_hash, count(DISTINCT doc_id) AS n_docs FROM ch GROUP BY chunk_hash),
           |p AS (SELECT ch.doc_id, CAST(count(*) AS BIGINT) AS n_chunks,
           |  CAST(sum(CASE WHEN g.n_docs > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_dup_chunks
           |  FROM ch JOIN g USING (chunk_hash) GROUP BY ch.doc_id)
           |SELECT doc_id, n_chunks, n_dup_chunks,
           |  CAST(floor(CAST(n_dup_chunks AS DOUBLE) * 1e4 / CAST(n_chunks AS DOUBLE)) AS BIGINT) AS dup_bp
           |FROM p ORDER BY doc_id""".stripMargin,
      "q_power_iter" ->
        s"""WITH ${Frag.embCte},
           |x AS (SELECT vec_id, list_transform(v, y -> CAST(round(y * 1e3) AS BIGINT)) AS xq FROM e),
           |s AS (SELECT vec_id, xq,
           |  list_reduce(list_prepend(CAST(0 AS BIGINT),
           |    list_transform(range(0, len(xq)), j -> xq[j+1] * (1 - 2 * (j % 2)))),
           |    (a, b) -> a + b) AS si
           |  FROM x),
           |dims AS (SELECT si,
           |  unnest(list_transform(range(0, len(xq)), j -> {'dim': j, 'o': xq[j+1] * si})) AS u
           |  FROM s)
           |SELECT CAST(u.dim AS BIGINT) AS dim, CAST(sum(u.o) AS BIGINT) AS out_scaled,
           |  (SELECT count(*) FROM s) AS n_vectors,
           |  (SELECT CAST(sum(si * si) AS BIGINT) FROM s) AS s_norm_sq
           |FROM dims GROUP BY 1 ORDER BY dim""".stripMargin,
      "q_decontam_mask" ->
        s"""WITH ${Frag.wordsCte},
           |pos AS (SELECT doc_id, ws, unnest(generate_series(1, len(ws) - 7)) AS i FROM w),
           |wins AS (SELECT doc_id, i, md5(array_to_string(ws[i:i+7], ' ')) AS fp FROM pos),
           |ev AS (SELECT DISTINCT fp FROM wins WHERE doc_id % 100 = 0),
           |tw AS (SELECT doc_id, ws FROM w WHERE doc_id % 100 != 0),
           |starts AS (SELECT w2.doc_id, list(DISTINCT w2.i) AS ms
           |  FROM wins w2 JOIN ev USING (fp) WHERE w2.doc_id % 100 != 0 GROUP BY w2.doc_id),
           |masked AS (SELECT tw.doc_id,
           |    CASE WHEN len(ws) > 0 THEN
           |      list_filter(generate_series(1, len(ws)),
           |        i -> NOT list_has_any(generate_series(greatest(1, i - 7), i),
           |                              coalesce(ms, [])))
           |    ELSE [] END AS kept, ws
           |  FROM tw LEFT JOIN starts USING (doc_id))
           |SELECT doc_id,
           |  md5(coalesce(array_to_string(list_transform(kept, i -> ws[i]), ' '), '')) AS masked_fp,
           |  CAST(len(ws) - len(kept) AS BIGINT) AS n_masked_tokens
           |FROM masked ORDER BY doc_id""".stripMargin,
      "q_epoch_shuffle" ->
        s"""WITH h AS (SELECT doc_id,
           |  md5('epoch7:' || CAST(doc_id AS VARCHAR)) AS hx FROM documents),
           |r AS (SELECT doc_id,
           |  CAST(row_number() OVER (ORDER BY hx, doc_id) - 1 AS BIGINT) AS pos FROM h)
           |SELECT doc_id, pos, CAST(pos % 8 AS BIGINT) AS shard,
           |  CAST(floor(pos / 8) AS BIGINT) AS shard_pos
           |FROM r ORDER BY doc_id""".stripMargin,
      "q_vocab_coverage" ->
        s"""WITH ${Frag.wordsCte},
           |tok AS (SELECT doc_id, unnest(ws) AS token FROM w),
           |dt AS (SELECT doc_id, token, count(*) AS c FROM tok GROUP BY doc_id, token),
           |voc AS (SELECT token FROM (
           |  SELECT token, sum(c) AS f FROM dt GROUP BY token
           |  ORDER BY f DESC, token ASC LIMIT 1000)),
           |sc AS (SELECT dt.doc_id, CAST(sum(dt.c) AS BIGINT) AS n_tokens,
           |  CAST(sum(CASE WHEN voc.token IS NOT NULL THEN dt.c ELSE 0 END) AS BIGINT) AS n_covered
           |  FROM dt LEFT JOIN voc USING (token) GROUP BY dt.doc_id)
           |SELECT doc_id, n_tokens, n_covered,
           |  CAST(floor(CAST(n_covered AS DOUBLE) * 1e4 / CAST(n_tokens AS DOUBLE)) AS BIGINT) AS coverage_bp
           |FROM sc ORDER BY doc_id""".stripMargin,
      "q_minhash_calib" ->
        s"""WITH ${Frag.wordsCte},
           |${Frag.shinglesCte},
           |dd AS (SELECT doc_id, list_distinct(sh) AS ds FROM sh),
           |sig AS (SELECT doc_id, $sigList AS sig FROM sh),
           |bands AS (SELECT doc_id, j, md5(array_to_string(sig[j*2+1:j*2+2], ',')) AS bh
           |  FROM sig CROSS JOIN generate_series(0, 5) AS tt(j)),
           |cand AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
           |  FROM bands a JOIN bands b ON a.j = b.j AND a.bh = b.bh AND a.doc_id < b.doc_id)
           |SELECT cand.doc_a, cand.doc_b,
           |  CAST(len(list_filter(range(1, 13), i -> sa.sig[i] = sb.sig[i])) AS BIGINT) AS est_lanes,
           |  CAST(len(list_intersect(da.ds, db.ds)) AS BIGINT) AS inter_sz,
           |  CAST(len(da.ds) + len(db.ds) - len(list_intersect(da.ds, db.ds)) AS BIGINT) AS union_sz
           |FROM cand JOIN sig sa ON sa.doc_id = cand.doc_a
           |  JOIN sig sb ON sb.doc_id = cand.doc_b
           |  JOIN dd da ON da.doc_id = cand.doc_a
           |  JOIN dd db ON db.doc_id = cand.doc_b
           |ORDER BY doc_a, doc_b""".stripMargin,
      "q_cluster_sizes" ->
        s"""WITH RECURSIVE
           |${Frag.embCte},
           |cen AS (SELECT vec_id AS cent_id, v AS cv FROM e WHERE vec_id < 16),
           |ad AS (SELECT e.vec_id, e.v, cen.cent_id, ${Frag.l2sq("e.v", "cen.cv")} AS dist FROM e CROSS JOIN cen),
           |cl AS (SELECT vec_id, v, cent_id AS cell FROM
           |  (SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY dist ASC, cent_id ASC) AS rn FROM ad)
           |  WHERE rn = 1),
           |p AS (SELECT vec_a, vec_b FROM (
           |  SELECT a.vec_id AS vec_a, b.vec_id AS vec_b, ${Frag.cosine("a.v", "b.v")} AS sim
           |  FROM cl a JOIN cl b ON a.cell = b.cell AND a.vec_id < b.vec_id) WHERE sim > 0.3),
           |ed AS (SELECT vec_a AS src, vec_b AS dst FROM p UNION ALL SELECT vec_b, vec_a FROM p),
           |reach AS (
           |  SELECT vec_id AS id, vec_id AS rep FROM e
           |  UNION
           |  SELECT ed.src, reach.rep FROM ed JOIN reach ON ed.dst = reach.id),
           |asg AS (SELECT id, min(rep) AS cluster FROM reach GROUP BY id),
           |cs AS (SELECT cluster, count(*) AS sz FROM asg GROUP BY cluster)
           |SELECT CAST(sz AS BIGINT) AS cluster_size, CAST(count(*) AS BIGINT) AS n_clusters,
           |  CAST(sz * count(*) AS BIGINT) AS n_vectors
           |FROM cs GROUP BY sz ORDER BY cluster_size""".stripMargin,
      "q_source_overlap" ->
        s"""WITH ${Frag.wordsCte},
           |${Frag.shinglesCte},
           |sig AS (SELECT doc_id, $sigList AS sig FROM sh),
           |bands AS (SELECT doc_id, j, md5(array_to_string(sig[j*2+1:j*2+2], ',')) AS bh
           |  FROM sig CROSS JOIN generate_series(0, 5) AS tt(j)),
           |p AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
           |  FROM bands a JOIN bands b ON a.j = b.j AND a.bh = b.bh AND a.doc_id < b.doc_id)
           |SELECT least(da.source, db.source) AS source_a,
           |  greatest(da.source, db.source) AS source_b,
           |  CAST(count(*) AS BIGINT) AS n_pairs
           |FROM p JOIN documents da ON p.doc_a = da.doc_id
           |  JOIN documents db ON p.doc_b = db.doc_id
           |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
      "q_cdc_chunks" ->
        s"""WITH ${Frag.wordsCte},
           |v AS (SELECT doc_id, ws, len(ws) AS n FROM w WHERE len(ws) > 0),
           |b AS (SELECT doc_id, ws, n,
           |  list_filter(range(3, n), p ->
           |    substring(md5(array_to_string(ws[p-2:p+1], ' ')), 32, 1) = '0') AS bnds
           |  FROM v),
           |st AS (SELECT doc_id, ws, n,
           |  list_prepend(0, list_transform(list_filter(bnds, x -> x + 1 < n), x -> x + 1)) AS starts
           |  FROM b),
           |ch AS (SELECT doc_id, ws, n,
           |  unnest(list_transform(range(0, len(starts)), k -> {'idx': k,
           |    's': starts[k+1],
           |    'e': CASE WHEN k + 1 < len(starts) THEN starts[k+2] - 1 ELSE n - 1 END})) AS u
           |  FROM st)
           |SELECT doc_id, CAST(u.idx AS BIGINT) AS chunk_id,
           |  CAST(u.s AS BIGINT) AS start_tok,
           |  CAST(u.e - u.s + 1 AS BIGINT) AS n_chunk_tokens,
           |  md5(array_to_string(ws[u.s+1:u.e+1], ' ')) AS chunk_hash
           |FROM ch ORDER BY doc_id, chunk_id""".stripMargin,
      "q_domain_mix" ->
        s"""WITH m AS (SELECT lang, source, count(*) AS n_docs,
           |  CAST(sum(len(list_filter(regexp_split_to_array(trim(text), '\\s+'), w -> len(w) > 0))) AS BIGINT) AS n_tokens
           |  FROM documents GROUP BY lang, source)
           |SELECT lang, source, CAST(n_docs AS BIGINT) AS n_docs, n_tokens,
           |  CAST(floor(CAST(n_tokens AS DOUBLE) * 1e4 / (sum(CAST(n_tokens AS DOUBLE)) OVER ())) AS BIGINT) AS share_bp
           |FROM m ORDER BY lang, source""".stripMargin)
  }

  def oracleSql: Map[String, String] = {
    val base = oracleSqlBase
    // the TextLm alternative freq-attach shapes run under the SAME oracle
    // text as their default-shape counterparts: identical results from a
    // different physical plan, so the knob is correctness-gated by the
    // driver every round, not only spec-gated
    base +
      ("q_tfidf_joinshape" -> base("q_tfidf")) +
      ("q_unigram_bcast" -> base("q_unigram_logprob"))
  }

  private def oracleSqlBase: Map[String, String] = llmOracles ++ Map(
    "q_agg_pricing" ->
      """SELECT l_returnflag, l_linestatus, count(*) AS n_rows,
        |CAST(sum(CAST(round(l_quantity*100) AS BIGINT)) AS BIGINT) AS sum_qty_cents,
        |CAST(sum(CAST(round(l_extendedprice*(1-l_discount)*100) AS BIGINT)) AS BIGINT) AS revenue_cents,
        |min(l_extendedprice) AS min_price, max(l_extendedprice) AS max_price
        |FROM lineitem GROUP BY 1,2 ORDER BY 1,2""".stripMargin,
    "q_time_binning" ->
      """SELECT strftime(ts, '%Y%m%d_%H00') AS bin, event_type, count(*) AS n,
        |CAST(sum(CAST(round(value*100) AS BIGINT)) AS BIGINT) AS sum_value_cents
        |FROM events GROUP BY 1,2 ORDER BY 1,2""".stripMargin,
    "q_time_extract" ->
      """SELECT event_id,
        |CAST(floor((CASE WHEN event_type='purchase' THEN value ELSE epoch_us(ts)/1000000.0 END)*1000000.0) AS BIGINT) AS extracted_us
        |FROM events ORDER BY event_id""".stripMargin,
    "q_path_routing" ->
      """SELECT 'p' || CAST(user_id % 4 AS VARCHAR) || '/u' || CAST(user_id AS VARCHAR) || '/'
        | || event_type || '/' || strftime(ts, '%Y%m%d_%H00') || '.csv' AS path,
        |count(*) AS n_records, min(event_id) AS min_event, max(event_id) AS max_event
        |FROM events GROUP BY 1 ORDER BY 1""".stripMargin,
    "q_sanitize_id" ->
      """SELECT p_partkey,
        |CASE WHEN regexp_replace(p_name, '[^a-zA-Z0-9_-]+', '', 'g') = '' OR p_name IS NULL
        | THEN 'unknown-part' ELSE regexp_replace(p_name, '[^a-zA-Z0-9_-]+', '', 'g') END AS clean_name
        |FROM part ORDER BY p_partkey""".stripMargin,
    "q_dedup_keep_last" ->
      """SELECT user_id, event_type, event_id AS last_event_id, value FROM (
        |  SELECT *, row_number() OVER (PARTITION BY user_id, event_type ORDER BY event_id DESC) AS rn
        |  FROM events) WHERE rn = 1 ORDER BY user_id, event_type""".stripMargin,
    "q_dedup_keep_first" ->
      """SELECT user_id, event_type, event_id AS first_event_id, value FROM (
        |  SELECT *, row_number() OVER (PARTITION BY user_id, event_type ORDER BY event_id ASC) AS rn
        |  FROM events) WHERE rn = 1 ORDER BY user_id, event_type""".stripMargin,
    "q_enrich_broadcast" ->
      """SELECT r_name, n_name, count(*) AS n_customers,
        |CAST(sum(CAST(round(c_acctbal*100) AS BIGINT)) AS BIGINT) AS sum_bal_cents
        |FROM customer JOIN nation ON c_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey
        |GROUP BY 1,2 ORDER BY 1,2""".stripMargin,
    "q_semi_join" ->
      """SELECT o_orderstatus, count(*) AS n FROM orders
        |WHERE EXISTS (SELECT 1 FROM lineitem WHERE l_orderkey = o_orderkey)
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    "q_anti_join" ->
      """SELECT c_custkey, c_mktsegment FROM customer
        |WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey AND o_orderstatus = 'F')
        |ORDER BY c_custkey""".stripMargin,
    "q_flatten_nested" ->
      """SELECT l_orderkey AS "key.l_orderkey", l_linenumber AS "key.l_linenumber",
        |l_partkey AS "value.l_partkey", l_suppkey AS "value.l_suppkey",
        |l_quantity AS "value.l_quantity", l_extendedprice AS "value.l_extendedprice",
        |l_returnflag AS "value.l_returnflag"
        |FROM lineitem WHERE l_orderkey < 1000 ORDER BY 1, 2""".stripMargin,
    "q_offset_parse" ->
      """WITH f AS (
        |  SELECT event_type || '+' || CAST(user_id % 8 AS VARCHAR) || '+'
        |    || lpad(CAST(event_id AS VARCHAR), 10, '0') || '.avro' AS fname FROM events),
        |p AS (
        |  SELECT regexp_extract(fname, '^(.+?)\+(\d+)\+(\d+)(?:\+(\d+))?\.avro$', 1) AS topic,
        |    CAST(regexp_extract(fname, '^(.+?)\+(\d+)\+(\d+)(?:\+(\d+))?\.avro$', 2) AS INTEGER) AS "partition",
        |    CAST(regexp_extract(fname, '^(.+?)\+(\d+)\+(\d+)(?:\+(\d+))?\.avro$', 3) AS BIGINT) AS from_offset
        |  FROM f)
        |SELECT topic, "partition", count(*) AS n_files, min(from_offset) AS min_offset,
        |  max(from_offset) AS max_offset
        |FROM p GROUP BY 1,2 ORDER BY 1,2""".stripMargin,
    "q_union_resolve" ->
      """SELECT event_id,
        |CASE WHEN event_type = 'purchase' THEN CAST(value AS VARCHAR) ELSE props END AS resolved,
        |CASE WHEN event_type = 'purchase' THEN 'double' ELSE 'string' END AS branch
        |FROM events ORDER BY event_id""".stripMargin,
    "q_exclude_fields" ->
      """SELECT event_id, user_id, event_type,
        |strftime(ts, '%Y-%m-%d %H:%M:%S.%f') AS ts_str
        |FROM events ORDER BY event_id""".stripMargin,
    "q_interval_merge" ->
      """WITH marked AS (
        |  SELECT user_id, event_id,
        |    CASE WHEN lag(event_id) OVER (PARTITION BY user_id ORDER BY event_id) IS NULL
        |      OR event_id - lag(event_id) OVER (PARTITION BY user_id ORDER BY event_id) > 1
        |      THEN 1 ELSE 0 END AS brk
        |  FROM events),
        |isl AS (
        |  SELECT user_id, event_id,
        |    sum(brk) OVER (PARTITION BY user_id ORDER BY event_id) AS island
        |  FROM marked)
        |SELECT user_id, min(event_id) AS from_offset, max(event_id) AS to_offset
        |FROM isl GROUP BY user_id, island ORDER BY user_id, from_offset""".stripMargin)
}
