package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.functions.TextFunctions

/** Scalable document-deduplication operators:
  *
  *  - exact: hash-groupBy on content digest (one shuffle, map-side combine)
  *  - near-dup: word-shingle → MinHash signature → LSH band bucketing →
  *    candidate-pair join. All column-expression based (codegen'd); the only
  *    shuffle is the band-bucket self-join, whose key cardinality grows with
  *    corpus size, so buckets stay small and AQE handles skew.
  *
  * MinHash permutations are salted MD5s (`md5(i ":" shingle)`, lexicographic
  * min) — deterministic, engine-portable (mirrored in DuckDB oracle SQL),
  * and uniformly distributed per salt.
  */
object TextDedup {

  /** Word n-gram shingles of `text` (documents shorter than n words yield
    * their full trimmed text as a single shingle).
    *
    * IMPORTANT perf note: every sub-expression of a higher-order-function
    * lambda is re-evaluated per element, so referencing the words-of-text
    * expression inside `transform` would re-run the regex split ONCE PER
    * SHINGLE — O(words²) regex work per document (measured 10×+ the entire
    * rest of the MinHash pipeline). Callers that already hold the token
    * array in a concrete column should use [[shinglesFromWords]]; this
    * overload exists for single-pass expression contexts and binds the
    * token array via a self-join-free `transform` over a one-element array
    * (evaluates `words` exactly twice per row: size probe + bind).
    */
  def shingles(text: Column, n: Int): Column = {
    // bind words(text) to a lambda variable so the regex split runs once
    // per row, not once per shingle: transform over a 1-element array gives
    // the lambda a bound reference to the evaluated array
    val bound = transform(array(TextFunctions.words(text)),
      ws => shinglesFromWords(ws, trim(text), n))
    element_at(bound, 1)
  }

  /** Shingles from an already-evaluated token array `ws` (a bound column or
    * lambda variable — NOT a derived expression, see [[shingles]]).
    * `fallback` is the single shingle for documents shorter than n words.
    */
  def shinglesFromWords(ws: Column, fallback: Column, n: Int): Column =
    // n-gram windows via the codegen'd kernel — the transform/slice HOF
    // formulation evaluated interpreted with a per-window array copy, on
    // the hottest row-local stage of the whole LSH dedup family
    when(size(ws) < n, array(fallback))
      .otherwise(graft.functions.GraftExpressions.nGrams(ws, n))

  /** Per-document distinct shingle sets — the single materialization point
    * the MinHash pipeline and the exact-Jaccard verifier both read (MinHash
    * mins are idempotent under duplicate shingles, so signatures computed
    * from the DISTINCT set are identical to signatures over the raw shingle
    * stream, and the verifier needs the distinct set anyway).
    */
  private[graft] def distinctShingleSets(
      df: DataFrame, idCol: String, textCol: String, shingleN: Int,
      carryCols: Seq[String] = Nil): DataFrame =
    Scale.widen(df).select(col(idCol) +: carryCols.map(col) :+
      array_distinct(shingles(col(textCol), shingleN)).as("__sh"): _*)

  /** Per-document k-element MinHash signatures, computed the scale-friendly
    * way: explode shingles to one row each, hash every shingle once per salt,
    * and take per-salt `min` in ONE aggregation — partial (map-side) mins
    * combine before the single shuffle on the id, so shuffle volume is
    * k·|docs| regardless of document length. (The naive nested
    * `transform(...)` form duplicates the shingle expression k·bands times
    * in the plan — measured 20× slower.)
    *
    * Output: idCol, `__mh_0 … __mh_(k-1)`.
    */
  def minhashSignatures(
      df: DataFrame, idCol: String, textCol: String,
      shingleN: Int, k: Int): DataFrame =
    minhashSignaturesFromSets(distinctShingleSets(df, idCol, textCol, shingleN), idCol, k)

  /** [[minhashSignatures]] over an already-built `(idCol, __sh)` shingle-set
    * frame (see [[distinctShingleSets]]).
    */
  private[graft] def minhashSignaturesFromSets(
      sets: DataFrame, idCol: String, k: Int,
      carryCols: Seq[String] = Nil): DataFrame = {
    // one salted md5 yields FOUR 32-bit (8-hex-char) minhash lanes — 3 md5
    // calls per shingle for k=12 instead of 12 (md5 dominates the stage)
    val nSalts = (k + 3) / 4
    val hashed = sets
      .select(col(idCol) +: carryCols.map(col) :+ explode(col("__sh")).as("__sh1"): _*)
      .select(col(idCol) +: carryCols.map(col) ++: (0 until nSalts).map(s =>
        md5(concat(lit(s"$s:"), col("__sh1"))).as(s"__h$s")): _*)
    // carried columns are NARROW passthroughs functionally dependent on the
    // id (one value per document), so first() is deterministic and the
    // map-side partial agg collapses them before the exchange — carrying
    // beats a re-attach join whenever the column is small (see
    // minhashCandidatePairs doc)
    //
    // lanes aggregate as NUMERIC mins: min over a variable-width string has
    // no mutable HashAggregate buffer, so the string form planned as TWO
    // Sort+SortAggregate pairs around the exchange — sorting the whole
    // exploded shingle stream twice. An 8-hex-char lane parses exactly into
    // a long (< 2^32), fixed-width lowercase hex is order-isomorphic to the
    // unsigned value (so the min is the same lane), and the post-agg
    // projection restores the identical 8-char lowercase-hex string.
    val aggs = (0 until k).map { i =>
      min(conv(substring(col(s"__h${i / 4}"), (i % 4) * 8 + 1, 8), 16, 10)
        .cast("long")).as(s"__mh_$i")
    } ++ carryCols.map(c => first(col(c)).as(c))
    hashed.groupBy(col(idCol)).agg(aggs.head, aggs.tail: _*)
      .select(col(idCol) +: (0 until k).map(i =>
        lower(lpad(hex(col(s"__mh_$i")), 8, "0")).as(s"__mh_$i")) ++:
        carryCols.map(col): _*)
  }

  /** Candidate near-duplicate pairs (idA < idB) that share at least one LSH
    * band bucket. `df` must have `idCol` and `textCol`. One shuffle for the
    * signature agg, one for the band-bucket self-join (bucket keyspace grows
    * with corpus size, so buckets stay small; AQE handles stragglers).
    *
    * Returns a fully LAZY plan with no persist and no blocking job: the
    * band pipeline is still computed only once, because both self-join
    * sides shuffle on the same band key from an identical subtree, so the
    * exchange is reused.
    *
    * `carryCols`: NARROW per-document passthrough columns (provenance tags,
    * quality buckets) emitted on both pair sides as `__a_<c>` / `__b_<c>`.
    * Carrying a narrow column through the band pipeline costs `bands` small
    * copies per document inside the one existing exchange; re-attaching it
    * afterwards costs two id-keyed joins that re-shuffle the ENTIRE pair
    * stream — carry narrow columns, join wide ones (signatures, shingle
    * sets).
    */
  def minhashCandidatePairs(
      df: DataFrame, idCol: String, textCol: String,
      shingleN: Int = 3, k: Int = 12, bands: Int = 6, rowsPerBand: Int = 2,
      carryCols: Seq[String] = Nil): DataFrame =
    minhashCandidatePairsFromSets(
      distinctShingleSets(df, idCol, textCol, shingleN, carryCols), idCol, k, bands,
      rowsPerBand, carryCols)

  /** [[minhashCandidatePairs]] over a prebuilt (ideally persisted) shingle-set
    * frame, so pipelines that also need the sets (exact-Jaccard verification)
    * compute shingles exactly once.
    */
  /** The LSH band-bucket table of a shingle-set frame: one row per
    * (document, band) with the band's row-concat md5 — the standing index a
    * near-dup pipeline keys on. Output: `__id, __band_idx, __band_hash`.
    */
  private[graft] def bandTableOfSets(
      sets: DataFrame, idCol: String, k: Int, bands: Int, rowsPerBand: Int,
      carryCols: Seq[String] = Nil): DataFrame = {
    require(bands * rowsPerBand <= k, "bands*rowsPerBand must be <= k")
    val sigs = minhashSignaturesFromSets(sets, idCol, k, carryCols)
    val bandArr = array((0 until bands).map { j =>
      md5(concat_ws(",",
        (0 until rowsPerBand).map(r => col(s"__mh_${j * rowsPerBand + r}")): _*))
    }: _*)
    sigs.select(col(idCol).as("__id") +: carryCols.map(col) :+
      posexplode(bandArr).as(Seq("__band_idx", "__band_hash")): _*)
  }

  /** Row-LOCAL variant of [[bandTableOfSets]]: byte-identical band hashes
    * (same salted-md5 lanes, same row-concat band md5, pinned by
    * `TextDedupSpec`) computed per ROW with no explode/groupBy exchange.
    * The signature agg pipeline exists to bound SHUFFLE volume when the
    * band table feeds a corpus self-join; a broadcast-PROBE side shuffles
    * nothing, so for those the agg's exchange is pure cost — this form
    * keeps the whole probe side inside one codegen'd scan. Docs with an
    * EMPTY shingle set emit no rows (the agg form drops them at the
    * explode; emitting null-lane bands here would make all empty docs
    * mutual candidates). `carryCols` are plain projections (any width —
    * nothing shuffles, so the narrow-only rule of the agg pipeline does
    * not apply).
    */
  private[graft] def bandTableOfSetsLocal(
      sets: DataFrame, idCol: String, k: Int, bands: Int, rowsPerBand: Int,
      carryCols: Seq[String] = Nil): DataFrame = {
    require(bands * rowsPerBand <= k, "bands*rowsPerBand must be <= k")
    val nSalts = (k + 3) / 4
    val salted = sets
      .where(size(col("__sh")) > 0)
      .select(col(idCol) +: carryCols.map(col) ++: (0 until nSalts).map(s =>
        transform(col("__sh"), x => md5(concat(lit(s"$s:"), x))).as(s"__hs$s")): _*)
    val lanes = (0 until k).map(i =>
      array_min(transform(col(s"__hs${i / 4}"),
        h => h.substr(lit((i % 4) * 8 + 1), lit(8)))).as(s"__mh_$i"))
    val sigs = salted.select(col(idCol) +: carryCols.map(col) ++: lanes: _*)
    val bandArr = array((0 until bands).map { j =>
      md5(concat_ws(",",
        (0 until rowsPerBand).map(r => col(s"__mh_${j * rowsPerBand + r}")): _*))
    }: _*)
    sigs.select(col(idCol).as("__id") +: carryCols.map(col) :+
      posexplode(bandArr).as(Seq("__band_idx", "__band_hash")): _*)
  }

  /** PRECONDITION (whole minhash family — this, [[minhashCandidatePairs]],
    * [[minhashCandidatePairsAgainst]], [[bandTableOfSetsLocal]]): `idCol`
    * identifies a ROW-unique document, like [[repeatedSpans]]. The
    * row-local band build emits bands per ROW, so a frame carrying the
    * same id on several rows would emit duplicate band rows (the retired
    * agg build merged them in its groupBy) and could surface self-pairs
    * of one id's rows as spurious candidates. Every caller in this engine
    * satisfies it; multi-row-per-id corpora must dedupe by id first.
    */
  private[graft] def minhashCandidatePairsFromSets(
      sets: DataFrame, idCol: String,
      k: Int = 12, bands: Int = 6, rowsPerBand: Int = 2,
      carryCols: Seq[String] = Nil): DataFrame = {
    // a SHUFFLE_HASH hint keeps both sides exchanging on the band key —
    // the two exchange subtrees are identical, so AQE reuses the stage and
    // the shingle→minhash pipeline runs once. (A broadcast join would
    // instead recompute the pipeline for the build side.) ROW-LOCAL bands
    // (byte-identical, spec-pinned): the only exchange left is the join's
    // own band-key exchange, vs the agg form's extra
    // Sort+SortAggregate+Exchange (string-lane min has no HashAggregate
    // buffer) ahead of it.
    val local = bandTableOfSetsLocal(sets, idCol, k, bands, rowsPerBand, carryCols)
    local.hint("SHUFFLE_HASH").alias("a").join(local.alias("b"),
        col("a.__band_idx") === col("b.__band_idx") &&
        col("a.__band_hash") === col("b.__band_hash") &&
        col("a.__id") < col("b.__id"))
      .select(col("a.__id").as("doc_a") +: col("b.__id").as("doc_b") +:
        (carryCols.map(c => col(s"a.$c").as(s"__a_$c")) ++
         carryCols.map(c => col(s"b.$c").as(s"__b_$c"))): _*)
      // carried columns are functionally dependent on the doc id, so the
      // distinct's cardinality (and the pair semantics) are unchanged
      .distinct()
  }

  /** Incremental (cross-batch) near-dup candidates: documents of a NEW
    * `batch` sharing an LSH band bucket with the HISTORICAL corpus — the
    * standing production shape: history's band table is the persisted dedup
    * index, each incoming batch probes it without recomputing or
    * re-pairing the corpus against itself. The batch side is small by
    * definition (one ingest slice), so its band table broadcasts and the
    * history side STREAMS — no shuffle of the corpus, no history×history
    * pair space. Output: (history_id, batch_id), distinct; ids may overlap
    * across frames (no cross-side ordering constraint).
    */
  def minhashCandidatePairsAgainst(
      history: DataFrame, batch: DataFrame, idCol: String, textCol: String,
      shingleN: Int = 3, k: Int = 12, bands: Int = 6, rowsPerBand: Int = 2,
      maxBatchRows: Int = Similarity.MaxProbeBatchRows): DataFrame = {
    // eager bounded-count guard, deliberately NOT the in-plan form: the raw
    // batch offers no exchange for the cap-check to reuse, so the in-plan
    // check only serialized one more broadcast stage ahead of the band
    // table's own broadcast (A/B at sf0.1: +2 jobs, 1.08 → 1.34 s)
    Similarity.requireProbeBatch(batch, maxBatchRows, "probe batch",
      "for large batches run minhashCandidatePairs over the combined corpus " +
        "(bucketed self-join — never all-pairs) instead of the broadcast probe")
    // ROW-LOCAL band tables on both sides (the streaming fused probe's
    // recipe, byte-identical hashes — spec-pinned): neither side of this
    // broadcast-probe join ever needs a partitioning, so the signature
    // agg's explode → Sort+SortAggregate → Exchange pipeline (min over
    // string lanes has no HashAggregate buffer, so it plans as TWO sort
    // aggregates around a full exchange, on BOTH sides) was pure cost —
    // the history side now streams through one codegen'd scan and the
    // batch side broadcasts straight from its scan
    val hb = bandTableOfSetsLocal(
      distinctShingleSets(history, idCol, textCol, shingleN), idCol, k, bands, rowsPerBand)
    val bb = bandTableOfSetsLocal(
      distinctShingleSets(batch, idCol, textCol, shingleN), idCol, k, bands, rowsPerBand)
    hb.alias("h").join(broadcast(bb.alias("b")),
        col("h.__band_idx") === col("b.__band_idx") &&
        col("h.__band_hash") === col("b.__band_hash"))
      .select(col("h.__id").as("history_id"), col("b.__id").as("batch_id"))
      .distinct()
  }

  /** SimHash-banded candidate pairs: documents sharing any 16-bit band of
    * their 64-bit simhash (guarantees recall for hamming distance ≤ 3 —
    * pigeonhole over 4 bands). Same bucket-join shape as MinHash LSH; the
    * verifier is then `GraftExpressions.hammingDist64` on the candidates.
    * Lazy like [[minhashCandidatePairs]]: identical subtrees on both
    * shuffle-join sides let AQE reuse the band exchange, so the simhash
    * pipeline computes once, with no barrier.
    */
  def simhashCandidatePairs(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    import graft.functions.{GraftExpressions, TextFunctions}
    GraftExpressions.register(df.sparkSession)
    val sh = GraftExpressions.simHash64(TextFunctions.words(col(textCol)))
    val bandTable = Scale.widen(df).select(col(idCol).as("__id"), sh.as("__sh"))
      .select(col("__id"), col("__sh"), posexplode(array((0 until 4).map(i =>
        shiftrightunsigned(col("__sh"), i * 16).bitwiseAND(lit(0xFFFFL))): _*))
        .as(Seq("__band_idx", "__band_val")))
    bandTable.hint("SHUFFLE_HASH").alias("a").join(bandTable.alias("b"),
        col("a.__band_idx") === col("b.__band_idx") &&
        col("a.__band_val") === col("b.__band_val") &&
        col("a.__id") < col("b.__id"))
      .select(col("a.__id").as("doc_a"), col("b.__id").as("doc_b"),
        GraftExpressions.hammingDist64(col("a.__sh"), col("b.__sh")).as("hamming"))
      .distinct()
  }

  /** Repeated-passage detection (exact substring dedup at token-window
    * granularity, the Lee et al. "Deduplicating Training Data Makes
    * Language Models Better" primitive): fingerprint every `windowTokens`-
    * token sliding window, and report fingerprints occurring in at least
    * `minDocs` DISTINCT documents. Callers use the hits to mask or drop
    * repeated passages (boilerplate, licenses, templated spans) that
    * whole-document dedup cannot see.
    *
    * Scale shape: window explosion is linear in total tokens (one row per
    * token position, no pair space); within-doc repeats collapse ROW-LOCALLY
    * (`array_distinct` on the window array, before the explode) so the
    * only exchange in the whole plan is the map-side-combined
    * `groupBy(fp)` — never a second shuffle to dedup `(id, fp)` pairs,
    * and never a count-distinct over the raw window stream.
    *
    * PRECONDITION (default mode): `idCol` identifies a ROW-unique document
    * (exactly one text row per id) — every caller in this engine satisfies
    * it. A frame with the same id on several rows (chunked corpus, upstream
    * duplicate rows) makes `n_docs` count ROWS, not documents, so a span
    * repeated only across one document's chunks would pass `minDocs` and be
    * masked by [[maskRepeatedSpans]]. For multi-row-per-id inputs pass
    * `docExact = true`: a cross-row `(id, fp)` distinct restores exact
    * per-DOCUMENT counts at the cost of a second keyed exchange of the
    * fingerprint stream (the row-local kernel dedup only collapses repeats
    * within one row) — concatenating chunks first keeps the one-exchange
    * plan and is preferred where possible.
    */
  def repeatedSpans(df: DataFrame, idCol: String, textCol: String,
      windowTokens: Int = 8, minDocs: Int = 2, docExact: Boolean = false): DataFrame = {
    require(windowTokens >= 1 && minDocs >= 1, s"windowTokens=$windowTokens, minDocs=$minDocs")
    import graft.functions.TextFunctions
    val toks = TextFunctions.words(col(textCol))
    val w = windowTokens
    val fps0 = Scale.widen(df).select(col(idCol),
      explode(windowFingerprints(toks, w, distinct = true)).as("fp"))
    val fps = if (docExact) fps0.distinct() else fps0
    fps
      .groupBy(col("fp"))
      .agg(count(lit(1)).as("n_docs"), min(col(idCol)).as("min_doc_id"))
      .filter(col("n_docs") >= minDocs)
  }

  /** Mask the repeated passages [[repeatedSpans]] detects: tokens covered
    * by any window fingerprint occurring in ≥ `minDocs` distinct documents
    * are REMOVED from the text (the Lee-et-al-style cleanup step: strip
    * boilerplate/licenses/templated spans, keep the unique content).
    *
    * Returns `(idCol, masked_text, n_masked_tokens)` for every input row.
    *
    * Scale shape: the repeated-fingerprint table is duplicate-bounded
    * (only spans seen ≥ minDocs times) and joins the per-doc window stream
    * as a broadcast left-semi; hit positions group back per doc (one
    * shuffle keyed by doc); the final token surgery is row-local
    * higher-order functions (filter/transform/exists — all codegen'd,
    * no UDF).
    *
    * `docExact` passes through to [[repeatedSpans]] (multi-row-per-id
    * frames — see its precondition note).
    *
    * @note failure contract of the `maxSpanRows` cap: the check is IN-PLAN
    *       ([[Similarity.probeGuarded]]), so an over-cap span set fails at
    *       EXECUTION time as a `SparkException` wrapping the raise_error
    *       message — not as an eager `IllegalArgumentException` at call
    *       time — and a frame that is built but never executed skips the
    *       guard entirely. Callers that caught `IllegalArgumentException`
    *       around the call site must catch the execution-time failure
    *       instead.
    */
  def maskRepeatedSpans(df: DataFrame, idCol: String, textCol: String,
      windowTokens: Int = 8, minDocs: Int = 2,
      maxSpanRows: Int = MaxSpanFingerprintRows, docExact: Boolean = false): DataFrame = {
    val spans = repeatedSpans(df, idCol, textCol, windowTokens, minDocs, docExact)
      .select(col("fp"))
    // same fail-fast-with-cure contract as decontaminateAgainst — the
    // repeated-span table is duplicate-bounded (fps seen in ≥ minDocs
    // docs), but a templated corpus can push it past what belongs on the
    // broadcast side of the masking join (this was the engine's one
    // UNguarded explicit broadcast). The guard is IN-PLAN
    // (Similarity.probeGuarded — a count() here measured +0.5 s of pure
    // scheduling): the cap-check and the join side end at the same
    // groupBy(fp) exchange, so ReusedExchange computes the spans subtree
    // once, and the check completes BEFORE the broadcast collects.
    val guarded = Similarity.probeGuarded(spans, maxSpanRows,
      "repeated-span fingerprint set",
      "raise minDocs / windowTokens (fewer, longer repeated spans) or mask " +
        "in fingerprint-range chunks; a corpus-sized frame does not belong " +
        "on the broadcast side of the masking join")
    maskSpansByFingerprints(df, idCol, textCol, guarded, windowTokens)
  }

  /** Span-level decontamination: mask every `windowTokens`-token span of
    * `train` whose fingerprint appears anywhere in `evalDf` — the
    * published-benchmark decontamination procedure, at span rather than
    * document granularity (q_contamination's probe FLAGS documents; this
    * removes the overlapping text and keeps the rest). The eval window
    * fingerprint set is bounded by definition (an eval suite, not a second
    * corpus) and broadcasts, mirroring the contamination probe's contract;
    * the train side streams through one fingerprint scan + the row-local
    * surgery of [[maskSpansByFingerprints]].
    *
    * @note failure contract of the eval-set size cap: IN-PLAN
    *       ([[Similarity.probeGuarded]]) — an over-cap eval suite fails at
    *       execution time as a `SparkException` (raise_error), not as an
    *       eager `IllegalArgumentException` at call time, and a never-
    *       executed frame skips the guard. See [[maskRepeatedSpans]].
    */
  def decontaminateAgainst(train: DataFrame, evalDf: DataFrame,
      idCol: String, textCol: String, windowTokens: Int = 8): DataFrame = {
    import graft.functions.TextFunctions
    val w = windowTokens
    val toks = TextFunctions.words(col(textCol))
    // same contract-enforcement convention as minhashCandidatePairsAgainst
    // (Similarity.probeGuarded): "an eval suite, not a second corpus" is a
    // contract, and the fingerprint set broadcasts whole — an unbounded one
    // must fail fast with a cure, not an opaque executor OOM mid-join. The
    // guard is IN-PLAN (the maskRepeatedSpans pattern): the cap-check
    // aggregate and the broadcast side both end at the same distinct()
    // exchange, so ReusedExchange computes the explode+distinct pipeline
    // ONCE — this replaced a two-stage driver guard (a window-count agg
    // action on every call + a conditional exact count) with zero driver
    // actions, and it checks the EXACT distinct count, so heavy window
    // duplication can never reject a valid suite.
    val evalFps = evalDf.select(
        explode(windowFingerprints(toks, w, distinct = true)).as("fp"))
      .distinct() // cross-row distinct (the kernel dedups within one doc)
    val guarded = Similarity.probeGuarded(evalFps, MaxSpanFingerprintRows,
      "eval window fingerprint set",
      "decontaminate against a bounded eval suite (or chunk it); a " +
        "corpus-sized frame does not belong on the broadcast side of the masking join")
    maskSpansByFingerprints(train, idCol, textCol, guarded, w)
  }

  /** The masking surgery shared by [[maskRepeatedSpans]] and
    * [[decontaminateAgainst]]: drop every token covered by a
    * `windowTokens`-token window whose fingerprint is in `spanFps`
    * (a single-column `fp` frame, broadcast — span sets are bounded:
    * globally-repeated spans or an eval suite, never corpus-sized).
    */
  /** Broadcast ceiling for the span-fingerprint set: 1M 32-char md5
    * strings ≈ 64 MB on executors — safely inside build-side comfort. An
    * eval suite or a repeated-span set stays far under this; hitting it
    * means a corpus-sized frame was passed where a bounded set belongs.
    */
  val MaxSpanFingerprintRows: Int = 1 << 20

  /** MD5 fingerprints of every `w`-token window (empty when the text has
    * fewer than `w` tokens, or is null) — the ONE definition shared by the
    * repeated-span index, the decontamination eval side, and the masking
    * probe: the two sides of the decontamination join compare these
    * strings bit-for-bit, so a drifted copy would silently match nothing.
    */
  /** md5 of every `w`-token sliding window — the codegen'd one-pass kernel
    * ([[graft.functions.GraftExpressions.WindowMd5Fps]]); byte-identical to
    * [[windowFingerprintsDeclarative]] (kernel-equivalence property spec'd).
    */
  private def windowFingerprints(toks: Column, w: Int,
      distinct: Boolean = false): Column =
    graft.functions.GraftExpressions.windowFps(toks, w, distinct)

  /** The declarative formulation the kernel replaces (slice → concat_ws →
    * md5 per window: three allocations per token position, and the
    * transform HOF is interpreted, not codegen'd). Kept as the
    * equivalence-spec reference semantics.
    */
  private[operators] def windowFingerprintsDeclarative(toks: Column, w: Int): Column =
    when(size(toks) >= w,
      transform(sequence(lit(1), size(toks) - w + 1),
        i => md5(concat_ws(" ", slice(toks, i, lit(w)))
          .cast(org.apache.spark.sql.types.BinaryType))))
      .otherwise(array().cast("array<string>"))

  private def maskSpansByFingerprints(df: DataFrame, idCol: String, textCol: String,
      spanFps: DataFrame, windowTokens: Int): DataFrame = {
    import graft.functions.TextFunctions
    val w = windowTokens
    val spans = spanFps
    // null text: no tokens, nothing masked (legacy sizeOfNull would
    // otherwise emit n_masked_tokens = -1, corrupting downstream sums)
    val toks = coalesce(TextFunctions.words(col(textCol)),
      array().cast("array<string>"))
    val winFps = windowFingerprints(toks, w)
    // (doc, window-start) rows whose fingerprint is globally repeated
    val hits = Scale.widen(df)
      .select(col(idCol), posexplode(winFps).as(Seq("__i0", "fp")))
      .join(broadcast(spans), Seq("fp"), "left_semi")
      .select(col(idCol), (col("__i0") + 1).as("__start")) // 1-based
      .groupBy(col(idCol))
      .agg(collect_set(col("__start")).as("__starts"))
    // row-local surgery via the graft_mask_tokens kernel (r19; guide §1.2
    // per-task work): the declarative keep-index tree — filter(sequence(1,
    // n), i => !exists(starts, covers)) plus a transform(element_at) — was
    // O(n·|starts|) interpreted HOF evals per document, and the single
    // wide Project duplicated the whole filter tree into both consumers
    // (masked_text and the size difference), doubling it again (measured
    // 3.1-3.4 s noop each for q_mask_spans/q_decontam_mask at sf0.1).
    // Binding toks and the kept-token kernel result in successive
    // projections evaluates each exactly once; the kernel is one
    // difference-array coverage pass, O(n + |starts|), byte-identical
    // (spec-pinned against the declarative form).
    val ms = coalesce(col("__starts"), array().cast("array<int>"))
    df.join(hits, Seq(idCol), "left")
      .select(col(idCol), col(textCol), toks.as("__toks"), ms.as("__ms"))
      .select(col(idCol), col(textCol), col("__toks"),
        graft.functions.GraftExpressions.maskTokens(col("__toks"), col("__ms"), w)
          .as("__kept"))
      .select(col(idCol),
        // null-in-null-out: a null document stays null, not a fake ""
        when(col(textCol).isNull, lit(null).cast("string"))
          .otherwise(concat_ws(" ", col("__kept")))
          .as("masked_text"),
        (size(col("__toks")) - size(col("__kept")))
          .cast(org.apache.spark.sql.types.LongType)
          .as("n_masked_tokens"))
  }

  /** Exact n-gram Jaccard between explicit pairs: intersection and union
    * sizes over distinct shingle sets (ints — exact; callers derive the
    * ratio).
    */
  def jaccardCounts(shA: Column, shB: Column): (Column, Column) = {
    val da = array_distinct(shA)
    val db = array_distinct(shB)
    val inter = size(array_intersect(da, db))
    val union = size(da) + size(db) - inter
    (inter, union)
  }

  /** The end-to-end corpus near-dedup pipeline, composed from the scale
    * primitives: MinHash-LSH candidate pairs → EXACT shingle-Jaccard
    * verification (`jaccard ≥ threshold`, integer cross-multiply — no
    * float compare) → connected components over verified pairs → keep the
    * minimum id per cluster. Returns the surviving document ids.
    *
    * Shuffle profile: signature agg + band self-join (LSH), one join to
    * re-attach shingle sets to candidates, the CC contraction, and a final
    * semi-join — every stage's volume is bounded by candidates/duplicates,
    * never |corpus|².
    */
  def dedupCorpus(
      df: DataFrame, idCol: String, textCol: String,
      shingleN: Int = 3, k: Int = 12, bands: Int = 6, rowsPerBand: Int = 2,
      num: Int = 1, den: Int = 2): DataFrame =
    corpusClusters(df, idCol, textCol, shingleN, k, bands, rowsPerBand, num, den)
      .filter(col(idCol) === col("cluster")) // cluster representative survives
      .select(col(idCol))

  /** The duplicate-cluster mapping behind [[dedupCorpus]]: every document id
    * with its connected-component representative (`cluster` = min reachable
    * id over verified near-duplicate pairs; singletons map to themselves).
    * Callers choose the retention policy — min-id ([[dedupCorpus]]),
    * best-quality-per-cluster, longest-per-cluster, etc.
    */
  def corpusClusters(
      df: DataFrame, idCol: String, textCol: String,
      shingleN: Int = 3, k: Int = 12, bands: Int = 6, rowsPerBand: Int = 2,
      num: Int = 1, den: Int = 2, collapseThreshold: Int = 256): DataFrame = {
    // HOT-BUCKET GUARD, adaptive. At web scale a boilerplate string
    // repeated m times (empty pages, license text, error templates) puts m
    // identical-signature rows into ONE band bucket and the self-join emits
    // m²/2 pair rows inside one task — 10⁵ copies of one error page is
    // 5·10⁹ pair rows. A cheap sizing probe (md5(text) group sizes — one
    // scan plus a light (16-byte, id) shuffle) detects the regime: corpora
    // whose largest exact-duplicate group is below `collapseThreshold`
    // run the direct pipeline unchanged (the common case — the probe is
    // the only overhead), mass-duplicate corpora first collapse each
    // text-identical group to its min-id representative. The collapsed
    // clusters are provably THE SAME: identical text ⇒ identical shingle
    // set ⇒ Jaccard 1 ⇒ every member pairs with its representative under
    // any threshold num ≤ den, the representative carries the group's min
    // id, and copies share their representative's band buckets exactly, so
    // cross-group candidate structure is unchanged.
    if (num > den) // degenerate threshold > 1: exact dups must NOT pair
      return corpusClustersDirect(df, idCol, textCol, shingleN, k, bands, rowsPerBand,
        num, den)
    val (keyed, maxGroup) = Similarity.collapseProbe(
      df.select(col(idCol), col(textCol)), md5(col(textCol)), idCol, "__tkey")
    if (maxGroup < collapseThreshold.toLong)
      corpusClustersDirect(df, idCol, textCol, shingleN, k, bands, rowsPerBand, num, den)
    else {
      val groups = keyed.groupBy(col("__tkey")).agg(min(col(idCol)).as("__rep"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      try {
        val reps = keyed
          .join(groups.select(col("__rep").as(idCol)), Seq(idCol), "left_semi")
          .select(col(idCol), col(textCol))
        val repClusters = corpusClustersDirect(reps, idCol, textCol,
          shingleN, k, bands, rowsPerBand, num, den)
        // expand back to every document via its text-group representative.
        // The rep-level mapping is materialized inside CC; the doc→rep tail
        // stays LAZY like CC's own vertices side (recomputes the cheap
        // md5 grouping on consumption), so no cached RDDs are left behind
        keyed.select(col(idCol).as("__did"), col("__tkey"))
          .join(groups.select(col("__tkey"), col("__rep")), "__tkey")
          .join(repClusters.withColumnRenamed(idCol, "__rep")
            .withColumnRenamed("cluster", "__cl"), "__rep")
          .select(col("__did").as(idCol), col("__cl").as("cluster"))
      } finally groups.unpersist(false)
    }
  }

  /** The direct (uncollapsed) formulation: band + verify + CC over every
    * document. [[corpusClusters]] routes here when no mass exact-duplicate
    * group is present (or the threshold is degenerate).
    */
  private[operators] def corpusClustersDirect(
      df: DataFrame, idCol: String, textCol: String,
      shingleN: Int, k: Int, bands: Int, rowsPerBand: Int,
      num: Int, den: Int): DataFrame = {
    val sets = distinctShingleSets(df, idCol, textCol, shingleN)
      .withColumnRenamed(idCol, "__sid")
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // band cache built ROW-LOCALLY (byte-identical, spec-pinned): the cache
    // holds the same (__id, __band_idx, __band_hash) rows either way, but
    // the local build fills it straight from the sets cache with no
    // exchange, where the agg build paid the signature exchange first
    val bandTable = bandTableOfSetsLocal(
        sets.withColumnRenamed("__sid", idCol), idCol, k, bands, rowsPerBand)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val verified = verifiedPairsFromSets(sets, bandTable, num, den)
    try Similarity.connectedComponents(verified, df.select(col(idCol).as(idCol)),
        "doc_a", "doc_b", idCol)
    finally { bandTable.unpersist(false); sets.unpersist(false) }
  }

  /** The verified-pair plan behind [[corpusClusters]]: candidate pairs from
    * a prebuilt (persisted) band table, exact-Jaccard verified against the
    * `(__sid, __sh)` shingle-set frame (`jaccard ≥ num/den` via integer
    * cross-multiply). Exposed for plan tests: the candidate self-join must
    * read the band CACHE on both sides (compute-once), which PlanSpec
    * asserts on the executed plan.
    */
  private[graft] def verifiedPairsFromSets(
      sets: DataFrame, bandTable: DataFrame, num: Int, den: Int): DataFrame = {
    val candidates = bandTable.alias("a").join(bandTable.alias("b"),
        col("a.__band_idx") === col("b.__band_idx") &&
        col("a.__band_hash") === col("b.__band_hash") &&
        col("a.__id") < col("b.__id"))
      .select(col("a.__id").as("doc_a"), col("b.__id").as("doc_b"))
      .distinct()
    val withSets = candidates
      .join(sets.withColumnRenamed("__sid", "doc_a").withColumnRenamed("__sh", "__sha"), "doc_a")
      .join(sets.withColumnRenamed("__sid", "doc_b").withColumnRenamed("__sh", "__shb"), "doc_b")
    val inter = size(array_intersect(col("__sha"), col("__shb")))
    val union = size(col("__sha")) + size(col("__shb")) - inter
    // jaccard ≥ num/den  ⇔  den·inter ≥ num·union (integers, exact)
    withSets.filter(inter * den >= union * num)
      .select(col("doc_a"), col("doc_b"))
  }
}
