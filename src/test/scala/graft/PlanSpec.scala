package graft

import org.apache.spark.sql.execution.ExplainMode

/** Enforced physical-plan properties (see PLANS.md): these assertions pin
  * the scale-relevant plan shapes so a regression (lost broadcast, lost
  * pruning, extra shuffle) fails CI rather than silently degrading at scale.
  */
class PlanSpec extends SparkSpec {

  private def formatted(name: String): String = {
    val df = SparkEntry.queries(name)(spark, sf)
    df.queryExecution.explainString(ExplainMode.fromString("formatted"))
  }

  test("graft-avro V2 scan: column pruning reaches the avro decode") {
    import org.apache.avro.Schema
    import org.apache.avro.file.DataFileWriter
    import org.apache.avro.generic.{GenericData, GenericDatumWriter, GenericRecord}
    val schema = new Schema.Parser().parse(
      """{"type":"record","name":"R","fields":[
        |{"name":"key","type":{"type":"record","name":"K","fields":[
        |  {"name":"userId","type":"string"}]}},
        |{"name":"value","type":{"type":"record","name":"V","fields":[
        |  {"name":"time","type":"double"},
        |  {"name":"payload","type":{"type":"array","items":"double"}}]}}]}""".stripMargin)
    val dir = java.nio.file.Files.createTempDirectory("graft-v2plan")
    val f = dir.resolve("t+0+0000000000.avro").toFile
    val w = new DataFileWriter[GenericRecord](new GenericDatumWriter[GenericRecord](schema))
    w.create(schema, f)
    val k = new GenericData.Record(schema.getField("key").schema)
    k.put("userId", "u1")
    val v = new GenericData.Record(schema.getField("value").schema)
    v.put("time", 1.5)
    v.put("payload", java.util.Arrays.asList(Double.box(1.0), Double.box(2.0)))
    val r = new GenericData.Record(schema)
    r.put("key", k); r.put("value", v)
    w.append(r); w.close()

    val df = graft.sources.AvroRead.read(spark, Seq(f.getPath)).select("value.time")
    val plan = df.queryExecution.explainString(ExplainMode.fromString("formatted"))
    // the scan's output (pruned) must not carry the payload array or key
    val scanSection = plan.split("\n\n").find(_.contains("BatchScan")).getOrElse(plan)
    assert(scanSection.contains("graft-avro"), s"V2 scan missing:\n$plan")
    assert(!scanSection.contains("payload"), s"payload not pruned from scan:\n$scanSection")
    assert(df.collect().map(_.getDouble(0)).toSeq == Seq(1.5))
  }

  test("q_agg_pricing: column-pruned scan + partial aggregation before the shuffle") {
    val plan = formatted("q_agg_pricing")
    assert(plan.contains("partial_sum"), "map-side combine missing")
    val readSchema = plan.linesIterator.find(_.trim.startsWith("ReadSchema")).get
    assert(!readSchema.contains("l_orderkey") && !readSchema.contains("l_shipdate"),
      s"scan reads unused columns: $readSchema")
  }

  test("q_enrich_broadcast: both dimensions broadcast, no sort-merge join") {
    val plan = formatted("q_enrich_broadcast")
    assert("BroadcastHashJoin".r.findAllIn(plan).size >= 2, "dimension joins not broadcast")
    assert(!plan.contains("SortMergeJoin"), "unexpected shuffle join for small dims")
  }

  test("q_semi_join / q_anti_join: filters pushed to the scan") {
    assert(formatted("q_semi_join").contains("PushedFilters: [IsNotNull(o_orderkey)]"))
    // the status predicate must reach the orders scan, not a post-scan filter
    assert(formatted("q_anti_join").contains("EqualTo(o_orderstatus,F)"))
  }

  test("q_flatten_nested: predicate pushed into parquet scan") {
    val plan = formatted("q_flatten_nested")
    assert(plan.contains("LessThan(l_orderkey,1000)"), "filter not pushed to scan")
  }

  test("q_cosine_topk: query set is the broadcast side") {
    val plan = formatted("q_cosine_topk")
    assert(plan.contains("BroadcastNestedLoopJoin") || plan.contains("BroadcastHashJoin"))
  }

  test("q_dedup_keep_last: single aggregation with partial combine before the shuffle") {
    val plan = formatted("q_dedup_keep_last")
    val exchanges = plan.linesIterator.count(_.matches("\\(\\d+\\) Exchange"))
    assert(exchanges <= 2, s"extra shuffles in dedup plan ($exchanges)")
    // keep-last runs as max_by aggregation: a PARTIAL aggregate must sit
    // below the exchange so shuffle volume is one row per key per task
    // (skew-immune — no Window sort concentrating a hot key's rows)
    assert(plan.contains("partial_max_by"),
      s"partial max_by missing before the shuffle:\n$plan")
    assert(!plan.contains("Window ("), "dedup should not need a Window")
  }

  test("q_repeated_spans: exactly one exchange — within-doc dedup is row-local") {
    // the only keyed shuffle allowed is the map-side-combined groupBy(fp);
    // a second hash exchange means (id, fp) pairs are being deduped via
    // distinct() instead of array_distinct before the explode, doubling
    // the shuffled volume of the highest-volume text operator. (The
    // Scale.widen round-robin input spread and the oracle-ordering sort's
    // range exchange are not keyed shuffles of the window stream.)
    val plan = formatted("q_repeated_spans")
    val hashExchanges = plan.linesIterator.count(l =>
      l.contains("Arguments: hashpartitioning"))
    assert(hashExchanges == 1,
      s"repeatedSpans must hash-shuffle once, found $hashExchanges:\n$plan")
    assert(plan.contains("graft_window_fps"),
      s"window-fingerprint kernel missing (within-doc dedup must be row-local):\n$plan")
    assert(plan.contains("partial_count"),
      s"doc count missing map-side partial combine:\n$plan")
  }

  test("q_contamination: eval shingle set is the broadcast side of the probe join") {
    val plan = formatted("q_contamination")
    assert(plan.contains("BroadcastHashJoin"), s"probe join not broadcast:\n$plan")
    assert(!plan.contains("SortMergeJoin"), "contamination probe fell back to a shuffle join")
  }

  test("q_kmeans_step: vector-sum partials — the shuffle carries |cells| rows, not |vectors|·dim") {
    import org.apache.spark.sql.execution.GenerateExec
    import org.apache.spark.sql.execution.aggregate.ObjectHashAggregateExec
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    import org.apache.spark.sql.catalyst.plans.physical.HashPartitioning
    import org.apache.spark.sql.catalyst.expressions.aggregate.Partial
    val plan = formatted("q_kmeans_step")
    assert(plan.contains("graft_vec_sum_long"),
      s"element-wise vector-sum aggregate missing:\n$plan")
    // structural proof the shuffle is codebook-sized: the groupBy(cell) hash
    // exchange must have a PARTIAL vector-sum aggregate below it (map-side
    // combine → ≤ |cells| rows per task) and the per-dim explode strictly
    // ABOVE it — exploding first would multiply shuffle input ×dim.
    // (AQE off: executedPlan is then the plain exchange-bearing tree)
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    val sparkPlan =
      try SparkEntry.queries("q_kmeans_step")(spark, sf).queryExecution.executedPlan
      finally spark.conf.set("spark.sql.adaptive.enabled", "true")
    val hashEx = sparkPlan.collectFirst {
      case e: ShuffleExchangeExec if e.outputPartitioning.isInstanceOf[HashPartitioning] => e
    }.getOrElse(fail(s"no hash exchange in plan:\n$sparkPlan"))
    assert(hashEx.collectFirst { case g: GenerateExec => g }.isEmpty,
      s"explode runs BELOW the shuffle (corpus×dim shuffle volume):\n$sparkPlan")
    assert(hashEx.collectFirst {
      case a: ObjectHashAggregateExec if a.aggregateExpressions.exists(_.mode == Partial) => a
    }.nonEmpty, s"no partial vector-sum below the exchange:\n$sparkPlan")
    assert(sparkPlan.collectFirst { case g: GenerateExec => g }.nonEmpty,
      s"per-dim explode missing entirely:\n$sparkPlan")
  }

  test("ANN family: no query_id window and no join/shuffle in IVF assignment") {
    // top-k must be the bounded-heap aggregate (map-side partials), never a
    // row_number window shuffling the scored corpus into |queries| tasks
    for (q <- Seq("q_cosine_topk", "q_ivf_topk", "q_ivf_probe")) {
      val plan = formatted(q)
      assert(!plan.contains("Window ("), s"$q: window crept back into top-k:\n$plan")
      assert(plan.contains("partial_graft_topk") || plan.contains("graft_topk"),
        s"$q: bounded top-k aggregate missing:\n$plan")
    }
    // cell assignment is a projection over the literal codebook: no join
    // and no key-shuffle may appear (only Scale.widen's round-robin
    // parallelism guard is allowed)
    val assigned = graft.operators.Similarity.ivfAssign(
      Tables.load(spark, sf, "embeddings"),
      Tables.load(spark, sf, "embeddings").filter(org.apache.spark.sql.functions.col("vec_id") < 16))
    val aPlan = assigned.queryExecution.explainString(ExplainMode.fromString("formatted"))
    assert(!aPlan.contains("hashpartitioning") && !aPlan.contains("Join"),
      s"ivfAssign is no longer a narrow projection:\n$aPlan")
    // the assignment projection must stay INSIDE whole-stage codegen
    // (NearestCells semi-codegen — a fallback would box a row per vector)
    assigned.collect()
    val simple = assigned.queryExecution.explainString(ExplainMode.fromString("simple"))
    val assignLines = simple.linesIterator.filter(_.contains("graft_nearest_cells")).toSeq
    assert(assignLines.nonEmpty && assignLines.exists(_.trim.matches("""[+\-:\s]*\*\(\d+\).*""")),
      s"ivfAssign projection not codegen'd:\n$simple")
  }

  test("q_seq_pack: bucket offsets broadcast; full-data window is bucket-partitioned") {
    val plan = formatted("q_seq_pack")
    assert(plan.contains("BroadcastHashJoin"), s"bucket offsets not broadcast:\n$plan")
    // the full-data running sum must be partitioned by the bucket column —
    // an empty partition spec there would funnel the corpus through one task
    val windows = plan.linesIterator.filter(_.contains("windowspecdefinition")).toSeq
    assert(windows.exists(_.contains("__b")), s"no bucket-partitioned window:\n$windows")
  }

  test("q_tfidf: row-local tf, join-free df/rank windows, no (doc,token) exchange") {
    val plan = formatted("q_tfidf")
    // JOIN-FREE: df attaches by a count window over the token partition of
    // the row-local tf stream (tf rows are distinct per (doc, token), so
    // the window count IS the document frequency) and the per-doc top-3 is
    // a row_number window — the old broadcast(df)-join shape paid a second
    // tokenizing scan for the build branch plus a driver-side build that
    // grows with the vocabulary (measured at 10×: 1.21 s vs 0.87 s).
    assert(!plan.contains("Join"), s"tfidf grew a join back:\n$plan")
    assert(!plan.contains("BroadcastExchange"),
      s"tfidf broadcast a vocabulary-scale table:\n$plan")
    val windows = plan.linesIterator.filter(_.contains("windowspecdefinition")).toSeq
    assert(windows.exists(l => l.contains("token") && l.contains("count")),
      s"df count window (partition by token) missing:\n$windows")
    assert(windows.exists(l => l.contains("doc_id") && l.contains("row_number")),
      s"per-doc rank window missing:\n$windows")
    // the per-(doc, token) count table is computed ROW-LOCALLY in the scan
    // stage (graft_elem_counts: a doc's tokens live in one row) — the old
    // shape shuffled the full corpus token stream on (doc, token) before
    // anything else; that exchange must never come back. The only keyed
    // exchanges allowed: by token (df window) and by doc_id (rank window),
    // + the orderBy range sort.
    assert(plan.contains("graft_elem_counts"),
      s"row-local count kernel missing from tf:\n$plan")
    val docTokenExchange = plan.linesIterator.exists(l =>
      l.contains("Arguments: hashpartitioning") && l.contains("doc_id") && l.contains("token"))
    assert(!docTokenExchange,
      s"(doc, token) exchange reappeared — corpus pair stream shuffled:\n$plan")
  }

  test("q_bigram_logprob / q_unigram_logprob / q_vocab_coverage: row-local counts, no (doc,elem) exchange") {
    for (q <- Seq("q_bigram_logprob", "q_unigram_logprob", "q_vocab_coverage")) {
      val plan = formatted(q)
      assert(plan.contains("graft_elem_counts"),
        s"$q: row-local count kernel missing:\n$plan")
      val pairExchange = plan.linesIterator.exists(l =>
        l.contains("Arguments: hashpartitioning") && l.contains("doc_id") &&
          (l.contains("bigram") || l.contains("token")))
      assert(!pairExchange,
        s"$q: (doc, elem) exchange reappeared — corpus pair stream shuffled:\n$plan")
      // the bigram and unigram frequency attaches ARE windows (partitioned
      // by the elem key — pinned in their own executed-plan tests below);
      // the vocab query stays window-free (its top-1000 vocabulary is a
      // TakeOrdered cut + broadcast, not expressible as a window attach)
      if (q == "q_vocab_coverage")
        assert(!plan.contains("Window ("), s"$q: unexpected window:\n$plan")
    }
  }

  // ---- lazy LSH compute-once asserts ---------------------------------
  // The lazy candidate-pair paths rely on AQE reusing the band exchange of
  // the bucket self-join (both sides shuffle an identical subtree). That
  // reuse is load-bearing — losing it silently doubles the heaviest stage
  // of the whole corpus-dedup family — and it is fragile (column-pruning
  // canonicalization differences between the sides break it), so each lazy
  // shape is pinned on the EXECUTED final plan.

  /** Execute `df` and flatten its AQE-final physical tree, descending into
    * query stages (their subtrees are hidden from `collect` — QueryStageExec
    * is a leaf) but not into reused exchanges or cached relations (those
    * subtrees are NOT recomputed, so counting their operators would be
    * wrong).
    */
  private def flattenExecuted(df: org.apache.spark.sql.DataFrame)
      : Seq[org.apache.spark.sql.execution.SparkPlan] = {
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
    df.collect()
    def flat(p: SparkPlan): Seq[SparkPlan] = p match {
      case a: AdaptiveSparkPlanExec => p +: flat(a.executedPlan)
      case q: QueryStageExec => p +: flat(q.plan)
      case _: InMemoryTableScanExec => Seq(p)
      case _ => p +: p.children.flatMap(flat)
    }
    flat(df.queryExecution.executedPlan)
  }

  private def assertBandReuse(
      ops: Seq[org.apache.spark.sql.execution.SparkPlan], bandCol: String,
      maxGenerates: Int): Unit = {
    import org.apache.spark.sql.execution.GenerateExec
    import org.apache.spark.sql.execution.exchange.ReusedExchangeExec
    val reused = ops.collect { case r: ReusedExchangeExec => r }
    assert(reused.exists(_.output.exists(_.name == bandCol)),
      s"band exchange not reused (ReusedExchange outputs: " +
        s"${reused.map(_.output.map(_.name).mkString("[", ",", "]"))}):\n${ops.head}")
    // the signature pipeline must appear exactly once: a reuse regression
    // doubles its Generate(s) (shingle explode / band posexplode)
    val generates = ops.count(_.isInstanceOf[GenerateExec])
    assert(generates <= maxGenerates,
      s"band pipeline computed more than once ($generates generates):\n${ops.head}")
  }

  test("lazy minhash pairs: band exchange reused — shingle pipeline computes once") {
    val pairs = graft.operators.TextDedup.minhashCandidatePairs(
      Tables.load(spark, sf, "documents"), "doc_id", "text")
    // one Generate for the shingle explode + one for the band posexplode
    assertBandReuse(flattenExecuted(pairs), "__band_hash", maxGenerates = 2)
  }

  test("lazy simhash pairs: band exchange reused — simhash pipeline computes once") {
    val pairs = graft.operators.TextDedup.simhashCandidatePairs(
      Tables.load(spark, sf, "documents"), "doc_id", "text")
    // a single band posexplode — a second Generate means the simhash
    // pipeline ran for both join sides
    assertBandReuse(flattenExecuted(pairs), "__band_val", maxGenerates = 1)
  }

  test("corpusClusters candidates: signature pipeline computes once via the band cache") {
    import org.apache.spark.sql.execution.GenerateExec
    import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
    // AQE exchange reuse does NOT hold when the self-join subtree bottoms
    // out in an InMemoryTableScan (the persisted sets) — the two sides stop
    // canonicalizing equal and the shingle→minhash→band pipeline silently
    // computes twice. corpusClusters therefore persists the band table and
    // self-joins the CACHE; this pins that shape: every band/signature
    // Generate lives inside the cached relation, none in the outer plan.
    val sets = graft.operators.TextDedup.distinctShingleSets(
        Tables.load(spark, sf, "documents"), "doc_id", "text", 3)
      .withColumnRenamed("doc_id", "__sid")
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val bands = graft.operators.TextDedup.bandTableOfSets(
        sets.withColumnRenamed("__sid", "doc_id"), "doc_id", 12, 6, 2)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      val verified = graft.operators.TextDedup.verifiedPairsFromSets(sets, bands, 1, 2)
      val ops = flattenExecuted(verified)
      val cacheScans = ops.collect { case s: InMemoryTableScanExec => s }
      assert(cacheScans.count(_.output.exists(_.name == "__band_hash")) >= 2,
        s"band self-join no longer reads the band cache on both sides:\n${ops.head}")
      assert(!ops.exists(_.isInstanceOf[GenerateExec]),
        s"signature pipeline recomputed outside the band cache:\n${ops.head}")
    } finally { bands.unpersist(false); sets.unpersist(false) }
  }

  test("q_repeated_spans: no count-distinct expand; distinct collapses before the fp count") {
    val plan = formatted("q_repeated_spans")
    // count(DISTINCT ...) would plan an Expand + double aggregation over
    // the raw window stream; the operator must instead dedup (fp, doc)
    // pairs first and count with a plain partial-combining count
    assert(!plan.contains("Expand"), s"count-distinct Expand in plan:\n$plan")
    assert(plan.contains("partial_count"), "doc count lost its map-side combine")
    // two aggregations: the (fp, doc) distinct and the per-fp count
    assert("HashAggregate".r.findAllIn(plan).size >= 2)
  }

  test("q_bloom_dedup: digest probe is a row-local filter; only hits reach the anti join") {
    val plan = formatted("q_bloom_dedup")
    // exactly one join in the whole plan — the hit-set anti join; the
    // definite-new branch must be join-free (the bloom probe is a Filter
    // over a plan-literal digest, inside codegen)
    assert(plan.contains("LeftAnti"), s"hit-set anti join missing:\n$plan")
    assert(!plan.contains("SortMergeJoin"),
      "anti join should broadcast/hash at this scale, not sort-merge")
    assert(plan.contains("might_contain") || plan.contains("BloomFilterMightContain") ||
      plan.contains("graft_bloom_might_contain"), s"bloom probe missing:\n$plan")
  }

  test("q_sample_mix: scan reads only the projected columns") {
    val plan = formatted("q_sample_mix")
    val readSchema = plan.linesIterator.find(_.trim.startsWith("ReadSchema")).get
    assert(!readSchema.contains("n_chars:"),
      s"scan reads unused stored n_chars column: $readSchema")
  }

  test("q_asof_join: no join node — one key exchange + running-last window") {
    val plan = formatted("q_asof_join")
    // the as-of semantics must come from the union-tag-window, never a
    // range-predicate join (nested-loop pair blow-up on hot keys)
    assert(!plan.contains("NestedLoop") && !plan.contains("CartesianProduct"),
      s"as-of fell back to a pair-generating join:\n$plan")
    assert(plan.contains("Window ("), s"running-last window missing:\n$plan")
  }

  test("q_range_join: bucketed equi-join, never a nested-loop range join") {
    val plan = formatted("q_range_join")
    assert(!plan.contains("NestedLoop") && !plan.contains("CartesianProduct"),
      s"range join fell back to nested-loop:\n$plan")
    // the join keys must include the bucket column
    assert(plan.contains("__b"), s"bucket key missing from the join:\n$plan")
  }

  test("PQ family: encode and ADC scoring stay narrow (no join, no pre-agg shuffle)") {
    val encPlan = formatted("q_pq_encode")
    assert(!encPlan.contains("Join"), s"pqEncode grew a join:\n$encPlan")
    val adcPlan = formatted("q_pq_topk")
    assert(!adcPlan.contains("Join"), s"pqTopKAdc grew a join:\n$adcPlan")
    assert(!adcPlan.contains("Window ("), s"pqTopKAdc uses a window:\n$adcPlan")
    assert(adcPlan.contains("graft_topk"), s"bounded-heap top-k missing:\n$adcPlan")
  }

  test("q_ivfpq_topk: probe table broadcast, no window, bounded-heap finisher") {
    val plan = formatted("q_ivfpq_topk")
    assert(plan.contains("BroadcastHashJoin"), s"probe join not broadcast:\n$plan")
    assert(!plan.contains("SortMergeJoin"), s"probe join fell back to shuffle:\n$plan")
    assert(!plan.contains("Window ("), s"window crept into IVF-PQ top-k:\n$plan")
    assert(plan.contains("graft_topk"), s"bounded-heap top-k missing:\n$plan")
  }

  test("vector folds: the scoring projection stays inside whole-stage codegen") {
    // simple mode stars codegen'd operators (`*(n) Project ...`); the
    // projection evaluating the dot-product fold must be starred — a
    // CodegenFallback fold would leave it uncodegen'd
    val df = SparkEntry.queries("q_cosine_topk")(spark, sf)
    df.collect() // AQE: codegen annotations only exist on the executed final plan
    val plan = df.queryExecution.explainString(ExplainMode.fromString("simple"))
    val scoring = plan.linesIterator.filter(_.contains("dotproduct")).toSeq
    assert(scoring.nonEmpty, s"no fold expression in plan:\n$plan")
    assert(scoring.exists(_.trim.matches("""[+\-:\s]*\*\(\d+\).*""")),
      s"fold projection not codegen'd:\n${scoring.mkString("\n")}")
  }

  test("q_shard_balance: histogram offsets broadcast; corpus window is length-partitioned") {
    val plan = formatted("q_shard_balance")
    assert(plan.contains("BroadcastHashJoin"), s"length-histogram offsets not broadcast:\n$plan")
    // the corpus-wide row_number must partition by token count — the only
    // unpartitioned window allowed is the one over the tiny histogram
    val windows = plan.linesIterator.filter(_.contains("windowspecdefinition")).toSeq
    assert(windows.exists(_.contains("n_tokens")),
      s"no length-partitioned corpus window:\n${windows.mkString("\n")}")
  }

  test("q_bpe_pairs: top-20 runs as TakeOrdered, never a full sort of the pair counts") {
    val plan = formatted("q_bpe_pairs")
    assert(plan.contains("TakeOrderedAndProject"), s"limit not pushed into TakeOrdered:\n$plan")
    assert(plan.contains("partial_count") || plan.contains("HashAggregate"),
      s"pair count lost its map-side partial:\n$plan")
  }

  test("q_unigram_logprob: join-free freq window, single tokenizing scan") {
    val df = SparkEntry.queries("q_unigram_logprob")(spark, sf)
    df.collect()
    val executed = df.queryExecution.explainString(ExplainMode.fromString("formatted"))
    val finalPlan = executed.split("== Initial Plan ==").head
    // the frequency attaches by a sum window over the token partition of
    // the row-local (doc, token) stream — the old broadcast(freq) shape
    // paid a SECOND corpus scan + tokenize for the vocabulary build branch
    // (row-local counts left it no exchange to reuse; measured 0.73 →
    // 0.46 s at sf0.1 and 0.71 → 0.47 s at 10×, 6 → 4 jobs)
    assert(!finalPlan.contains("Join"), s"unigram freq attach grew a join back:\n$finalPlan")
    assert(!finalPlan.contains("BroadcastExchange"),
      s"unigram freq attach broadcast a table:\n$finalPlan")
    assert(finalPlan.contains("Window"), s"unigram freq window missing:\n$finalPlan")
    val tokenExchange = executed.linesIterator.exists(l =>
      l.contains("Arguments: hashpartitioning") && l.contains("token"))
    assert(tokenExchange, s"no token-keyed exchange under the freq window:\n$executed")
    // exactly ONE scan of the documents table: the second tokenizing scan
    // (the build branch of the old broadcast join) must not come back
    val scans = finalPlan.linesIterator.count(_.contains("Scan parquet"))
    assert(scans == 1, s"expected a single documents scan, saw $scans:\n$finalPlan")
  }

  test("q_bigram_logprob: row-local pair counts; join-free freq window, NEVER broadcast") {
    val df = SparkEntry.queries("q_bigram_logprob")(spark, sf)
    df.collect()
    val executed = df.queryExecution.explainString(ExplainMode.fromString("formatted"))
    val finalPlan = executed.split("== Initial Plan ==").head
    // per-(doc, bigram) counts are row-local (AdjacentPairs →
    // graft_elem_counts in one scan-stage projection) — the corpus pair
    // stream never shuffles on (doc, bigram). The corpus frequency then
    // attaches by a sum window over the bigram partition: ONE exchange of
    // the pre-collapsed pair stream, no groupBy+join-back (the old
    // merge-pinned join sorted BOTH sides — measured 1.35 s vs 0.65 s at
    // 10×), and never a broadcast (the freq table is vocabulary-scale:
    // measured 2.7 s at 10× from the driver-side build alone). Hot-key
    // ceiling: rows are pre-collapsed per (doc, bigram), so the hottest
    // window partition holds at most one row per document — the same
    // per-key bound the SMJ probe side had.
    assert(!finalPlan.contains("Join"), s"bigram freq attach grew a join back:\n$finalPlan")
    assert(!finalPlan.contains("BroadcastExchange"),
      s"bigram freq attach broadcast a vocabulary-scale table:\n$finalPlan")
    assert(finalPlan.contains("Window"), s"bigram freq window missing:\n$finalPlan")
    // the window's exchange must key on the bigram alone (an empty
    // partition spec would funnel the corpus through one task)
    val bigramExchange = executed.linesIterator.exists(l =>
      l.contains("Arguments: hashpartitioning") && l.contains("bigram"))
    assert(bigramExchange, s"no bigram-keyed exchange under the freq window:\n$executed")
    assert(!df.queryExecution.logical.toString.toLowerCase.contains("broadcast"),
      "bigram freq attach must not carry a broadcast hint — the table is corpus-scale")
  }

  test("q_source_overlap: source carried through the band pipeline — exactly one join") {
    val plan = formatted("q_source_overlap")
    // the provenance tag is a NARROW per-doc column, so it rides the band
    // pipeline's one existing exchange (bands copies per doc) instead of
    // two id-keyed re-attach joins that would re-shuffle the entire
    // candidate-pair stream; the only join left is the band self-join
    val joins = plan.linesIterator.count(_.startsWith("Join type:"))
    assert(joins == 1, s"expected exactly the band self-join, got $joins:\n$plan")
    assert(!plan.contains("BroadcastExchange"),
      s"overlap matrix must not broadcast a corpus-row table:\n$plan")
  }

  test("q_minhash_calib / q_ngram_jaccard: corpus-row attach joins never broadcast") {
    // the re-attach tables carry array payloads whose static size estimate
    // is bogus-small (the planner broadcast 130 MiB frames at 10×) — the
    // pins keep every corpus-row join hash-partitioned (ShuffledHashJoin)
    for (q <- Seq("q_minhash_calib", "q_ngram_jaccard")) {
      val df = SparkEntry.queries(q)(spark, sf)
      df.collect()
      val finalPlan = df.queryExecution.explainString(ExplainMode.fromString("formatted"))
        .split("== Initial Plan ==").head
      assert(finalPlan.contains("ShuffledHashJoin"),
        s"$q: attach joins lost their shuffle pin:\n$finalPlan")
      val broadcasts = finalPlan.linesIterator.count(_.contains("BroadcastHashJoin"))
      val shjs = finalPlan.linesIterator.count(_.contains("ShuffledHashJoin"))
      assert(shjs >= 1,
        s"$q: attach joins lost their shuffle-hash pin, saw $shjs (broadcasts=$broadcasts):\n$finalPlan")
      if (q == "q_minhash_calib") {
        // the round-13 combined attach halved the pair-stream re-shuffles:
        // the CANDIDATE-PAIR stream is joined exactly TWICE (once by doc_a,
        // once by doc_b, each bringing signature lanes AND shingle set in
        // one frame). Four id-keyed joins = the old shape regressed (the
        // sig/set tables re-attached separately, re-shuffling the pair
        // stream four times). Counted from the detail blocks of a FRESH
        // un-executed plan (an executed AQE explain prints each operator's
        // detail once per tree — final AND initial — doubling the count).
        val fresh = SparkEntry.queries(q)(spark, sf).queryExecution
          .explainString(ExplainMode.fromString("formatted"))
        val pairAttaches = fresh.split("\n\n").count(block =>
          block.contains("ShuffledHashJoin") && block.contains("Left keys") &&
            (block.contains("doc_a") || block.contains("doc_b")))
        assert(pairAttaches == 2,
          s"q_minhash_calib: expected exactly 2 pair-stream attach joins, saw $pairAttaches:\n$fresh")
      }
    }
  }

  test("q_chunk_dedup: per-hash count exchange reused by the join back") {
    val df = SparkEntry.queries("q_chunk_dedup")(spark, sf)
    df.collect()
    val executed = df.queryExecution.explainString(ExplainMode.fromString("formatted"))
    val finalPlan = executed.split("== Initial Plan ==").head
    // chunks feed both the per-hash distinct-doc count and the join probe —
    // the chunk_hash exchange must be shared, not computed per branch
    assert(finalPlan.contains("ReusedExchange"),
      s"chunk exchange not reused — corpus chunked twice:\n$finalPlan")
  }

  test("q_epoch_shuffle: bucket offsets broadcast; corpus window is hash-bucket-partitioned") {
    val plan = formatted("q_epoch_shuffle")
    assert(plan.contains("BroadcastHashJoin"), s"bucket offsets not broadcast:\n$plan")
    // the corpus-wide row_number must partition by the hash bucket — the
    // only unpartitioned window allowed is the 256-row histogram cumsum.
    // The corpus window is the one ordering by __hx: it must ALSO name __b
    // (its partition key); matching on __b alone would be satisfied by the
    // histogram window and miss a dropped partitionBy (= global sort funnel)
    val windows = plan.linesIterator.filter(_.contains("windowspecdefinition")).toSeq
    val corpusWindows = windows.filter(_.contains("__hx"))
    assert(corpusWindows.nonEmpty && corpusWindows.forall(_.contains("__b")),
      s"corpus row_number window not bucket-partitioned:\n${windows.mkString("\n")}")
  }

  test("q_cdc_chunks: row-local CDC — no join, single explode, no aggregation") {
    val plan = formatted("q_cdc_chunks")
    assert(!plan.contains("Join"), s"CDC chunking should be join-free:\n$plan")
    assert(!plan.contains("HashAggregate"), s"CDC chunking should not aggregate:\n$plan")
    // boundary scan + chunk assembly are array expressions; the chunk
    // posexplode is the only row multiplier
    assert(plan.split("Generate").length <= 3, s"more than one explode:\n$plan")
  }

  test("q_power_iter: one corpus aggregation, explode only on the aggregated row") {
    val df = SparkEntry.queries("q_power_iter")(spark, sf)
    df.collect()
    val executed = df.queryExecution.explainString(ExplainMode.fromString("formatted"))
    val finalPlan = executed.split("== Initial Plan ==").head
    assert(!finalPlan.contains("Join"), s"power iteration should be join-free:\n$finalPlan")
    // the per-dim posexplode must sit ABOVE the vector-sum aggregate (one
    // aggregated row), never under it (corpus × dim rows into the shuffle)
    val genIdx = finalPlan.linesIterator.indexWhere(_.contains("Generate"))
    val aggIdx = finalPlan.linesIterator.indexWhere(l =>
      l.contains("ObjectHashAggregate") || l.contains("SortAggregate") || l.contains("HashAggregate"))
    assert(genIdx >= 0 && aggIdx >= 0 && genIdx < aggIdx,
      s"explode not above the aggregate (gen@$genIdx agg@$aggIdx):\n$finalPlan")
  }

  test("q_chunk_windows: row-local chunking — no join, single explode, pruned scan") {
    val plan = formatted("q_chunk_windows")
    assert(!plan.contains("Join"), s"chunking should be join-free:\n$plan")
    assert(plan.linesIterator.count(_.trim.startsWith("Generate")) <= 1
      || plan.split("Generate").length <= 3, s"more than one explode:\n$plan")
    assert(plan.contains("doc_id") && plan.contains("text"),
      s"unexpected scan shape:\n$plan")
  }
}
