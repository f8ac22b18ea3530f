package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.functions._

class TextDedupSpec extends SparkSpec {
  import spark.implicits._

  test("shingles: n-grams for long text, whole text for short") {
    val df = Seq("a b c d", "xy").toDF("text")
    val got = df.select(TextDedup.shingles(col("text"), 3).as("s"))
      .collect().map(_.getSeq[String](0).toSeq).toSeq
    assert(got(0) == Seq("a b c", "b c d"))
    assert(got(1) == Seq("xy"))
  }

  test("bandTableOfSetsLocal: byte-identical band hashes to the agg pipeline, empty sets dropped") {
    // the row-local probe-side band table (streaming fused probe) must
    // produce EXACTLY the agg pipeline's buckets — same salted md5 lanes,
    // same band md5 — or cross-batch candidates silently diverge from the
    // batch operators'. Includes: multi-doc, duplicate shingles (distinct
    // sets), short text, a doc whose text yields an empty shingle set.
    val docs = Seq(
      (1L, "alpha beta gamma delta epsilon zeta eta theta"),
      (2L, "alpha beta gamma delta epsilon zeta eta iota"),
      (3L, "completely different words entirely here now"),
      (4L, "xy"),
      (5L, ""), // empty STRING still shingles to [""] — present in both
      (6L, null.asInstanceOf[String])).toDF("doc_id", "text")
    val sets = TextDedup.distinctShingleSets(docs, "doc_id", "text", 3)
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.select("__id", "__band_idx", "__band_hash")
        .collect().map(r => (r.getLong(0), r.getInt(1), r.getString(2)))
        .sortBy(t => (t._1, t._2)).toSeq
    val agg = rows(TextDedup.bandTableOfSets(sets, "doc_id", 12, 6, 2))
    val local = rows(TextDedup.bandTableOfSetsLocal(sets, "doc_id", 12, 6, 2))
    assert(agg.nonEmpty)
    assert(local == agg,
      s"band tables diverge:\n local: ${local.take(8)}\n agg:   ${agg.take(8)}")
    // doc 6 (null text → null/empty shingle set) appears in neither table:
    // the agg form drops it at the explode, the local form at its guard
    assert(!local.exists(_._1 == 6L))
    assert(local.exists(_._1 == 5L), "empty-string doc must be present in both")
    // carryCols ride through as plain projections
    val carried = TextDedup.bandTableOfSetsLocal(
      sets.withColumn("__tag", col("doc_id") * 10), "doc_id", 12, 6, 2,
      carryCols = Seq("__tag"))
    assert(carried.select("__id", "__tag").distinct().collect()
      .forall(r => r.getLong(1) == r.getLong(0) * 10))
  }

  test("fused probe plan: history side exchange- and aggregate-free; one shuffle total (the candidate distinct)") {
    import org.apache.spark.sql.execution.ExplainMode
    val docs = (1 to 40).map(i =>
      (i.toLong, s"document number $i with some shared tokens and a few unique one$i two$i"))
      .toDF("doc_id", "text")
    val sets = TextDedup.distinctShingleSets(docs, "doc_id", "text", 3)
    // the claim behind the streaming fusion: the row-local band table is a
    // pure projection pipeline — no exchange, no aggregate — so a probe's
    // history side stays inside one codegen'd scan
    val hProbe = TextDedup.bandTableOfSetsLocal(
      sets, "doc_id", 12, 6, 2, carryCols = Seq("__sh"))
      .withColumnRenamed("__sh", "__hsh")
    val p0 = hProbe.queryExecution.explainString(ExplainMode.fromString("formatted"))
    assert(!p0.linesIterator.exists(_.matches("\\(\\d+\\) Exchange.*")),
      s"row-local band table must not shuffle:\n$p0")
    assert(!p0.contains("HashAggregate"),
      s"row-local band table must not aggregate:\n$p0")
    // composed exactly as StreamingNearDedup's fused probe: two explicit
    // batch-side broadcasts, and the only shuffle in the whole candidate
    // plan is the trailing distinct
    val bBands = TextDedup.bandTableOfSetsLocal(sets, "doc_id", 12, 6, 2)
      .select(col("__id").as("__pbid"), col("__band_idx").as("__bband_idx"),
        col("__band_hash").as("__bband_hash"))
    val bSets = sets.select(col("doc_id").as("__bid"), col("__sh").as("__bsh"))
    val (inter, union) = TextDedup.jaccardCounts(col("__hsh"), col("__bsh"))
    val dupIds = hProbe
      .join(broadcast(bBands),
        col("__band_idx") === col("__bband_idx") &&
        col("__band_hash") === col("__bband_hash"))
      .join(broadcast(bSets), col("__pbid") === col("__bid"))
      .filter(inter * 2 >= union * 1)
      .select(col("__bid").as("doc_id")).distinct()
    val p1 = dupIds.queryExecution.explainString(ExplainMode.fromString("formatted"))
    val shuffles = p1.linesIterator.count(_.matches("\\(\\d+\\) Exchange.*"))
    assert(shuffles == 1, s"fused candidate plan must shuffle once (distinct), found $shuffles:\n$p1")
    val bcasts = p1.linesIterator.count(l =>
      l.matches("\\(\\d+\\) BroadcastExchange.*") || l.matches("\\(\\d+\\) ReusedExchange.*"))
    assert(bcasts == 2, s"expected exactly the two batch-side broadcasts, found $bcasts:\n$p1")
    assert(!p1.contains("SortMergeJoin") && !p1.contains("NestedLoop"), p1)
  }

  test("repeatedSpans: cross-doc windows hit, within-doc repeats don't, short docs drop") {
    // doc 1 and 2 share an exact 4-token passage embedded in different text;
    // doc 3 repeats a window TWICE within itself but shares with nobody;
    // doc 4 is shorter than the window
    val docs = Seq(
      (1L, "alpha beta gamma delta shared span one two epsilon"),
      (2L, "zeta shared span one two eta theta"),
      (3L, "solo repeat block x solo repeat block x"),
      (4L, "tiny doc")).toDF("doc_id", "text")
    val spans = TextDedup.repeatedSpans(docs, "doc_id", "text", windowTokens = 4)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    // exactly the windows inside "shared span one two" region common to 1 & 2
    assert(spans.nonEmpty)
    assert(spans.forall { case (_, n, minId) => n == 2L && minId == 1L },
      s"unexpected spans: ${spans.toSeq}")
    // the within-doc repeat of doc 3 does not reach minDocs=2
    val withDoc3 = TextDedup.repeatedSpans(
      docs.filter(col("doc_id") === 3L), "doc_id", "text", windowTokens = 4)
    assert(withDoc3.count() == 0L)
    // windows at minDocs=1 include doc 3's internal repeat exactly once
    val all3 = TextDedup.repeatedSpans(
      docs.filter(col("doc_id") === 3L), "doc_id", "text", windowTokens = 4, minDocs = 1)
    assert(all3.count() > 0L && all3.agg(max(col("n_docs"))).head().getLong(0) == 1L)
    intercept[IllegalArgumentException] {
      TextDedup.repeatedSpans(docs, "doc_id", "text", windowTokens = 0)
    }
  }

  test("repeatedSpans docExact: duplicate-id (chunked) frames count documents, not rows") {
    // one document in two chunk ROWS sharing the same id, each carrying the
    // same 4-token span; a second distinct document without it. Default
    // mode counts rows (the documented row-unique-id precondition), so the
    // within-document chunk repeat reaches minDocs=2; docExact dedups
    // (id, fp) first and correctly reports NO cross-document span.
    val chunked = Seq(
      (1L, "prefix words common span body here alpha"),
      (1L, "common span body here beta trailing text"),
      (2L, "entirely unrelated content in this row")).toDF("doc_id", "text")
    val loose = TextDedup.repeatedSpans(chunked, "doc_id", "text", windowTokens = 4)
    assert(loose.count() > 0L, "default mode should count rows (precondition violated on purpose)")
    val exact = TextDedup.repeatedSpans(chunked, "doc_id", "text",
      windowTokens = 4, docExact = true)
    assert(exact.count() == 0L, "docExact must collapse same-id chunk repeats")
    // and a genuine cross-document span still reaches minDocs under docExact
    val crossDoc = Seq(
      (1L, "prefix words common span body here alpha"),
      (1L, "common span body here beta trailing text"),
      (2L, "other doc with common span body here too")).toDF("doc_id", "text")
    val exactHits = TextDedup.repeatedSpans(crossDoc, "doc_id", "text",
      windowTokens = 4, docExact = true)
      .collect().map(r => (r.getLong(1), r.getLong(2)))
    assert(exactHits.nonEmpty && exactHits.forall { case (n, minId) => n == 2L && minId == 1L },
      s"unexpected docExact spans: ${exactHits.toSeq}")
  }

  test("maskRepeatedSpans removes exactly the shared-passage tokens, keeps unique content") {
    val docs = Seq(
      (1L, "unique alpha beta shared passage body one two three four gamma tail"),
      (2L, "other intro shared passage body one two three four closing words here"),
      (3L, "no overlap with anything else in this corpus at all today")).toDF("doc_id", "text")
    val out = TextDedup.maskRepeatedSpans(docs, "doc_id", "text", windowTokens = 4)
      .collect().map(r => r.getLong(0) -> ((r.getString(1), r.getLong(2)))).toMap
    // the 7-token run "shared passage body one two three four" is common to
    // docs 1 and 2 (4 repeated 4-windows cover it exactly); the differing
    // neighbors keep every window that leaks outside the run unique
    assert(out(1L) == (("unique alpha beta gamma tail", 7L)), s"got ${out(1L)}")
    assert(out(2L) == (("other intro closing words here", 7L)), s"got ${out(2L)}")
    // doc 3 shares nothing and is untouched
    assert(out(3L) == (("no overlap with anything else in this corpus at all today", 0L)))
    // an 8-token window cannot repeat here (the shared run is 7 tokens):
    // nothing is masked at the default window size
    val none = TextDedup.maskRepeatedSpans(docs, "doc_id", "text", windowTokens = 8)
      .agg(max(col("n_masked_tokens"))).head().getLong(0)
    assert(none == 0L)
    // broadcast guard: a span table over the cap fails with the cure
    // (in-plan raise_error — fires when the query runs, before the
    // broadcast collects), never an opaque executor OOM mid-join
    // (4 repeated windows here > 1)
    val err = intercept[Throwable] {
      TextDedup.maskRepeatedSpans(docs, "doc_id", "text", windowTokens = 4,
        maxSpanRows = 1).collect()
    }
    def messages(t: Throwable): Seq[String] =
      if (t == null) Nil else Option(t.getMessage).toSeq ++ messages(t.getCause)
    val all = messages(err).mkString("\n")
    assert(all.contains("repeated-span fingerprint set") && all.contains("minDocs"), all)
  }

  test("identical docs always collide in minhash LSH; disjoint docs get distinct signatures") {
    val docs = Seq(
      (1L, "spark catalyst optimizer rewrites logical plans into physical plans"),
      (2L, "spark catalyst optimizer rewrites logical plans into physical plans"),
      (3L, "entirely unrelated words about cooking pasta with tomato sauce basil"))
      .toDF("doc_id", "text")
    val pairs = TextDedup.minhashCandidatePairs(docs, "doc_id", "text")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs.contains((1L, 2L)))
    assert(!pairs.contains((1L, 3L)) && !pairs.contains((2L, 3L)))
  }

  test("carryCols: carried pair-side values ≡ a join-based re-attach; pair set unchanged") {
    val docs = Seq(
      (1L, "spark catalyst optimizer rewrites logical plans into physical plans", "web"),
      (2L, "spark catalyst optimizer rewrites logical plans into physical plans", "books"),
      (3L, "spark catalyst optimizer rewrites logical plans into physical trees", "web"),
      (4L, "entirely unrelated words about cooking pasta with tomato sauce basil", "code"))
      .toDF("doc_id", "text", "source")
    val carried = TextDedup.minhashCandidatePairs(docs, "doc_id", "text",
        carryCols = Seq("source"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2), r.getString(3))).toSet
    val plain = TextDedup.minhashCandidatePairs(docs, "doc_id", "text")
    val srcA = docs.select(col("doc_id").as("doc_a"), col("source").as("__a_source"))
    val srcB = docs.select(col("doc_id").as("doc_b"), col("source").as("__b_source"))
    val joined = plain.join(srcA, "doc_a").join(srcB, "doc_b")
      .select(col("doc_a"), col("doc_b"), col("__a_source"), col("__b_source"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2), r.getString(3))).toSet
    assert(carried == joined)
    assert(carried.map(p => (p._1, p._2)) ==
      plain.collect().map(r => (r.getLong(0), r.getLong(1))).toSet,
      "carrying a functionally-dependent column must not change the pair set")
    // multiple carried columns of mixed types ride together
    val docs2 = docs.withColumn("bucket", (col("doc_id") % 2).cast("int"))
    val multi = TextDedup.minhashCandidatePairs(docs2, "doc_id", "text",
      carryCols = Seq("source", "bucket"))
    assert(multi.columns.toSeq ==
      Seq("doc_a", "doc_b", "__a_source", "__a_bucket", "__b_source", "__b_bucket"))
    val row = multi.filter(col("doc_a") === 1L && col("doc_b") === 2L).head()
    assert(row.getString(2) == "web" && row.getInt(3) == 1 &&
      row.getString(4) == "books" && row.getInt(5) == 0)
  }

  test("lazy candidate pairs: frozen pair set, zero persisted RDDs") {
    val docs = Seq(
      (1L, "spark catalyst optimizer rewrites logical plans into physical plans"),
      (2L, "spark catalyst optimizer rewrites logical plans into physical plans"),
      (3L, "spark catalyst optimizer rewrites logical plans into physical trees"),
      (4L, "entirely unrelated words about cooking pasta with tomato sauce basil"))
      .toDF("doc_id", "text")
    val before = spark.sparkContext.getPersistentRDDs.keySet
    val lazyPairs = TextDedup.minhashCandidatePairs(docs, "doc_id", "text")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(lazyPairs == Set((1L, 2L), (1L, 3L), (2L, 3L)), s"pairs $lazyPairs")
    // the lazy path must not persist anything
    assert(spark.sparkContext.getPersistentRDDs.keySet == before,
      "lazy minhashCandidatePairs persisted RDDs")
  }

  test("lazy simhash pairs: frozen pair set, zero persisted RDDs") {
    // doc 4 repeats doc 1 exactly (hamming 0); the one-word edit in doc 2
    // moves its simhash out of every band shared with doc 1
    val docs = Seq(
      (1L, "spark catalyst optimizer rewrites logical plans into physical plans"),
      (2L, "spark catalyst optimizer rewrites logical plans into physical plan"),
      (3L, "entirely unrelated words about cooking pasta with tomato sauce basil"),
      (4L, "spark catalyst optimizer rewrites logical plans into physical plans"))
      .toDF("doc_id", "text")
    val before = spark.sparkContext.getPersistentRDDs.keySet
    val lazyPairs = TextDedup.simhashCandidatePairs(docs, "doc_id", "text")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    assert(lazyPairs == Set((1L, 4L, 0)), s"pairs $lazyPairs")
    assert(spark.sparkContext.getPersistentRDDs.keySet == before,
      "lazy simhashCandidatePairs persisted RDDs")
  }

  test("incremental candidates: batch-vs-history only, no history pairs, batch side broadcast") {
    val history = Seq(
      (1L, "spark catalyst optimizer rewrites logical plans into physical plans"),
      (2L, "spark catalyst optimizer rewrites logical plans into physical plans"),
      (3L, "entirely unrelated words about cooking pasta with tomato sauce basil"))
      .toDF("doc_id", "text")
    val batch = Seq(
      (100L, "spark catalyst optimizer rewrites logical plans into physical plans"),
      (101L, "totally novel content that matches nothing in the history corpus at all"))
      .toDF("doc_id", "text")
    val df = TextDedup.minhashCandidatePairsAgainst(history, batch, "doc_id", "text")
    val got = df.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // both history duplicates pair with the matching batch doc; the novel
    // batch doc and the unrelated history doc pair with nothing — and no
    // (1,2) history-internal pair is ever produced
    assert(got == Set((1L, 100L), (2L, 100L)))
    // the batch band table must be the broadcast side (history streams)
    val plan = df.queryExecution.explainString(
      org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
    assert(plan.contains("BroadcastHashJoin"), s"batch side not broadcast:\n$plan")
  }

  test("incremental candidates: oversized probe batch fails fast naming the alternative") {
    val history = Seq((1L, "some history document text here")).toDF("doc_id", "text")
    val batch = (0L until 12L).map(i => (100L + i, s"batch document $i text"))
      .toDF("doc_id", "text")
    // eager guard (see the operator: the in-plan form measured slower
    // here), so the failure is at CALL time with a plain exception
    val e = intercept[IllegalArgumentException] {
      TextDedup.minhashCandidatePairsAgainst(history, batch, "doc_id", "text",
        maxBatchRows = 10)
    }
    assert(e.getMessage.contains("probe batch exceeds 10 rows"), e.getMessage)
    assert(e.getMessage.contains("minhashCandidatePairs"), e.getMessage)
    // at the cap it still runs
    val atCap = TextDedup.minhashCandidatePairsAgainst(history, batch.limit(10),
      "doc_id", "text", maxBatchRows = 10)
    assert(atCap.columns.toSeq == Seq("history_id", "batch_id"))
    atCap.collect() // the in-plan check must pass, not just plan
  }

  test("dedupCorpus leaves no cached RDDs behind (service-loop hygiene)") {
    val docs = (0L until 40L).map { i =>
      val base = s"document number ${i % 10} talks about topic ${i % 10} in detail with many words"
      (i, if (i < 10) base else base + s" variant $i")
    }.toDF("doc_id", "text")
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(true))
    val survivors = TextDedup.dedupCorpus(docs, "doc_id", "text").collect()
    assert(survivors.nonEmpty)
    assert(spark.sparkContext.getPersistentRDDs.isEmpty,
      s"dedupCorpus leaked cached RDDs: ${spark.sparkContext.getPersistentRDDs.keys}")
  }

  test("corpusClusters: exact-group collapse ≡ uncollapsed clusters on a mixed corpus") {
    // mix of exact-dup groups (identical text), near-dups (differ by a
    // token) and singletons — the collapse must reproduce the uncollapsed
    // cluster mapping EXACTLY
    val base = "the quick brown fox jumps over the lazy dog and runs far away tonight"
    val docs = (
      (1L to 5L).map(i => (i, base)) ++                      // exact group -> rep 1
      Seq((6L, base + " extra"), (7L, "totally different content about catalyst and codegen planning here")) ++
      (8L to 9L).map(i => (i, "another exact pair of documents with its own words entirely")) ++
      Seq((10L, "a singleton unlike anything else in this tiny corpus at all"))
    ).toDF("doc_id", "text")
    def asMap(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // collapseThreshold=2 forces the collapsed branch on this small corpus
    val collapsed = asMap(TextDedup.corpusClusters(docs, "doc_id", "text",
      collapseThreshold = 2))
    val reference = asMap(TextDedup.corpusClustersDirect(
      docs, "doc_id", "text", 3, 12, 6, 2, 1, 2))
    assert(collapsed == reference, s"collapse diverged: $collapsed vs $reference")
    assert(collapsed(1L) == 1L && collapsed(5L) == 1L && collapsed(6L) == 1L)
    assert(collapsed(8L) == 8L && collapsed(9L) == 8L && collapsed(10L) == 10L)
  }

  test("corpusClusters: a mass exact-duplicate group contributes ONE band-table row, not a quadratic bucket") {
    // 2000 identical docs + handful distinct: uncollapsed banding would put
    // 2000 identical-signature rows in one bucket (2M pair rows per band);
    // collapsed, the group is one representative
    val docs = ((1L to 2000L).map(i => (i, "boilerplate error page not found contact the administrator please")) ++
      Seq((5000L, "unique document content one with several distinctive tokens inside it"),
          (5001L, "unique document content two carrying its own vocabulary and shape")))
      .toDF("doc_id", "text")
    val t0 = System.nanoTime()
    val clusters = TextDedup.corpusClusters(docs, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val sec = (System.nanoTime() - t0) / 1e9
    assert(clusters.size == 2002)
    assert((1L to 2000L).forall(clusters(_) == 1L), "mass group must collapse to rep 1")
    assert(clusters(5000L) == 5000L && clusters(5001L) == 5001L)
    // generous wall bound: the uncollapsed formulation grinds through
    // ~12M bucket pair rows here; the collapsed path is corpus-linear
    assert(sec < 60, s"mass-duplicate corpus took ${sec}s — hot-bucket guard regressed?")
  }

  test("corpusClusters collapse branch: null-text docs survive as singletons; empty corpus is empty") {
    // null texts never pair in the direct pipeline (null band hashes don't
    // equi-join) — the collapse must keep them as their own singleton
    // groups, not drop them (null keys vanish from equi-joins) nor lump
    // them into one shared cluster
    val docs = (
      (1L to 6L).map(i => (i, "mass duplicate boilerplate page body repeated again and again")) ++
      Seq((100L, null.asInstanceOf[String]), (101L, null.asInstanceOf[String]),
          (102L, "a perfectly ordinary unique document about something else entirely"))
    ).toDF("doc_id", "text")
    val clusters = TextDedup.corpusClusters(docs, "doc_id", "text", collapseThreshold = 2)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(clusters.size == 9, s"rows dropped: $clusters")
    assert((1L to 6L).forall(clusters(_) == 1L))
    assert(clusters(100L) == 100L && clusters(101L) == 101L, "null-text docs must stay singletons")
    assert(clusters(102L) == 102L)
    // empty corpus: no NPE from the sizing probe, empty mapping out
    val empty = docs.filter(col("doc_id") < 0)
    assert(TextDedup.corpusClusters(empty, "doc_id", "text").count() == 0L)
  }

  test("jaccardCounts: identical sets → inter == union") {
    val df = Seq(("a b c d e f", "a b c d e f"), ("a b c d e f", "q r s t u v"))
      .toDF("t1", "t2")
    val (i, u) = TextDedup.jaccardCounts(
      TextDedup.shingles(col("t1"), 3), TextDedup.shingles(col("t2"), 3))
    val rows = df.select(i.as("i"), u.as("u")).collect()
    assert(rows(0).getInt(0) == rows(0).getInt(1))
    assert(rows(1).getInt(0) == 0)
  }
}
