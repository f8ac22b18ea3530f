package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.functions._

class SimilaritySpec extends SparkSpec {
  import spark.implicits._

  private val vecs = Seq(
    (0L, Seq(1.0f, 0.0f, 0.0f)),
    (1L, Seq(0.9f, 0.1f, 0.0f)),
    (2L, Seq(0.0f, 1.0f, 0.0f)),
    (3L, Seq(0.0f, 0.0f, 1.0f))).toDF("vec_id", "embedding")

  test("cosine: identical vector = 1.0, orthogonal = 0.0") {
    val d = Seq((Seq(1.0f, 2.0f), Seq(1.0f, 2.0f), Seq(-2.0f, 1.0f))).toDF("a", "b", "c")
    val r = d.select(
      Similarity.cosine(col("a"), col("b")).as("same"),
      Similarity.cosine(col("a"), col("c")).as("orth")).collect()(0)
    assert(math.abs(r.getDouble(0) - 1.0) < 1e-12)
    assert(math.abs(r.getDouble(1)) < 1e-12)
  }

  test("bruteForceTopK: nearest first, self excluded") {
    val top = Similarity.bruteForceTopK(vecs, vecs.filter(col("vec_id") === 0), 2)
      .orderBy("rank").collect()
    assert(top.map(_.getLong(2)).toSeq == Seq(1L, 2L)) // 1 closest, never itself
  }

  test("zero-norm vector (NaN cosine) never ranks as a neighbor; dim mismatch is null") {
    // a failed-embedding artifact: 0/0 = NaN, which the heap's total
    // order would rank above EVERY real score — it must be excluded
    val withZero = vecs.union(Seq((9L, Seq(0.0f, 0.0f, 0.0f))).toDF("vec_id", "embedding"))
    val top = Similarity.bruteForceTopK(withZero, withZero.filter(col("vec_id") === 0), 3)
      .collect().map(_.getLong(2)).toSet
    assert(!top.contains(9L), s"zero vector ranked as a neighbor: $top")
    // and the zero vector as a QUERY returns no neighbors (all sims NaN)
    val qZero = Similarity.bruteForceTopK(withZero, withZero.filter(col("vec_id") === 9), 3)
    assert(qZero.count() == 0)
    // a corrupted row with the wrong dimension folds to NULL, not a
    // plausible shared-prefix score
    val d = Seq((Seq(1.0f, 2.0f, 3.0f), Seq(1.0f, 2.0f))).toDF("a", "b")
    val r = d.select(graft.functions.GraftExpressions.dotProduct(col("a"), col("b")).as("d")).collect()(0)
    assert(r.isNullAt(0), "dimension mismatch must yield null")
  }

  test("connectedComponents: chains spanning partitions collapse to min id; isolated vertices self-map") {
    // chain 10-11-12-13-14 deliberately spread across partitions, plus a
    // 2-cycle {20,21} and isolated vertex 30
    val pairs = Seq((10L, 11L), (12L, 11L), (13L, 12L), (14L, 13L), (21L, 20L))
      .toDF("vec_a", "vec_b").repartition(5)
    val verts = Seq(10L, 11L, 12L, 13L, 14L, 20L, 21L, 30L).toDF("vec_id")
    val got = Similarity.connectedComponents(pairs, verts)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == Map(10L -> 10L, 11L -> 10L, 12L -> 10L, 13L -> 10L, 14L -> 10L,
      20L -> 20L, 21L -> 20L, 30L -> 30L))
  }

  test("connectedComponents: fixpoint fallback (tiny maxLocalEdges) matches the contraction result") {
    val pairs = Seq((10L, 11L), (12L, 11L), (13L, 12L), (14L, 13L), (21L, 20L),
      (30L, 31L), (31L, 32L), (40L, 41L))
      .toDF("vec_a", "vec_b").repartition(4)
    val verts = (Seq(10L, 11L, 12L, 13L, 14L, 20L, 21L, 30L, 31L, 32L, 40L, 41L, 99L)).toDF("vec_id")
    val fast = Similarity.connectedComponents(pairs, verts)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // maxLocalEdges=1 forces the hash-min fixpoint on the contracted graph
    val viaFixpoint = Similarity.connectedComponents(pairs, verts, maxLocalEdges = 1L)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(fast == viaFixpoint)
    assert(fast(14L) == 10L && fast(32L) == 30L && fast(41L) == 40L && fast(99L) == 99L)
  }

  test("connectedComponents: non-integral ids use the fixpoint path, same semantics") {
    val pairs = Seq(("b", "c"), ("a", "b")).toDF("vec_a", "vec_b")
    val verts = Seq("a", "b", "c", "z").toDF("vec_id")
    val got = Similarity.connectedComponents(pairs, verts)
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    assert(got == Map("a" -> "a", "b" -> "a", "c" -> "a", "z" -> "z"))
  }

  test("connectedComponents: random graphs match a brute-force union-find, on every path") {
    val rnd = new scala.util.Random(42) // seeded — deterministic test
    for (density <- Seq(0.5, 2.0, 6.0)) {
      val n = 200
      val m = (n * density).toInt
      val edges = Seq.fill(m)((rnd.nextInt(n).toLong, rnd.nextInt(n).toLong))
        .filter { case (a, b) => a != b }
      // reference: driver union-find
      val parent = Array.tabulate(n)(identity)
      def find(x: Int): Int = { var r = x; while (parent(r) != r) r = parent(r); r }
      edges.foreach { case (a, b) =>
        val (ra, rb) = (find(a.toInt), find(b.toInt))
        if (ra != rb) { if (ra < rb) parent(rb) = ra else parent(ra) = rb }
      }
      // min-id per component (one more pass for full compression)
      val expect = (0 until n).map(v => v.toLong -> find(v).toLong).toMap
      val pairs = edges.toDF("vec_a", "vec_b").repartition(7)
      val verts = (0L until n.toLong).toDF("vec_id")
      for (maxLocal <- Seq(2000000L, 50L)) { // driver path + levels/fixpoint path
        val got = Similarity.connectedComponents(pairs, verts, maxLocalEdges = maxLocal)
          .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
        assert(got == expect, s"density=$density maxLocal=$maxLocal")
      }
    }
  }

  test("connectedComponents: driver-packed small graph skips the shrink loop (one job, no wasted contraction)") {
    // 15 DISJOINT edges repartitioned to 16 partitions: contraction keeps
    // exactly 15 star edges, so with maxLocalEdges = 10 the old shrink-loop
    // condition held (15 > 10, parts/8 = 2 >= ceil(15/10)) even though the
    // complete edge set was already packed at the driver — each level was a
    // repartition + contraction + count whose output the finisher ignored.
    // Post-guard the call runs only the fused count+collect (plus AQE's
    // per-exchange stage jobs for the .rdd conversion): no shrink-level
    // `count at Similarity` job may appear, and the job total stays at the
    // AQE-shaped 3 instead of growing per wasted level.
    val pairs = (0L until 15L).map(i => (2 * i, 2 * i + 1))
      .toDF("vec_a", "vec_b").repartition(16)
    val verts = (0L until 30L).toDF("vec_id")
    val stageNames = java.util.concurrent.ConcurrentHashMap.newKeySet[String]()
    val jobs = new java.util.concurrent.atomic.AtomicInteger()
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(js: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
        jobs.incrementAndGet()
        js.stageInfos.foreach(si => stageNames.add(si.name))
      }
    }
    var mapping: org.apache.spark.sql.DataFrame = null
    spark.sparkContext.addSparkListener(listener)
    try {
      mapping = Similarity.connectedComponents(pairs, verts, maxLocalEdges = 10L)
      // deliver every queued listener event before counting
      org.apache.spark.ListenerBusDrain(spark.sparkContext)
    } finally spark.sparkContext.removeSparkListener(listener)
    import scala.jdk.CollectionConverters._
    assert(!stageNames.asScala.exists(_.contains("count at ")),
      s"shrink-level count job ran on a driver-packed graph: ${stageNames.asScala}")
    // PRIMARY check is the stage-name assertion above (no shrink-level
    // count job) — that alone proves the guard. The job-count bound is a
    // loose regression tripwire only: AQE stage materialization and .rdd
    // conversion job shapes shift across Spark versions/confs (Spark 4.1
    // measures 3), so the bound stays far from the current value — a
    // REVIVED shrink loop adds >=3 jobs per level and still trips it.
    assert(jobs.get() <= 8, s"job count blew past the AQE-shaped handful, saw ${jobs.get()}")
    val got = mapping.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert((0L until 15L).forall(i => got(2 * i) == 2 * i && got(2 * i + 1) == 2 * i))
  }

  test("hashMinFixpoint: convergence probe fused into the round's materialization (no eager-checkpoint jobs)") {
    // r19: each fixpoint round used to run TWO actions — the eager
    // localCheckpoint materialization plus the Σrep convergence collect.
    // The checkpoint is lazy now and fills under the Σrep aggregate, so no
    // `localCheckpoint at` job may appear; every round is one action.
    val pairs = Seq((10L, 11L), (12L, 11L), (13L, 12L), (21L, 20L))
      .toDF("vec_a", "vec_b").repartition(3)
    val verts = Seq(10L, 11L, 12L, 13L, 20L, 21L, 30L).toDF("vec_id")
    // action accounting. Under AQE a LAZY localCheckpoint still executes
    // the round's intermediate query stages at creation (toRdd builds the
    // final plan), so it cannot be job-free — what the fold removes is the
    // EAGER form's materializing count(): its extra job and its full
    // cached-block pass per round (the Σrep collect then re-read every
    // block a second time; fused, one pass writes the blocks and sums).
    // Observable invariant: with the fold, at least one checkpoint action
    // submits no job at all (the initial reps frame is a plain local scan
    // with no adaptive stages), so strictly fewer executions run jobs than
    // actions fire; the eager shape ran a job under EVERY action.
    val actions = java.util.Collections.synchronizedList(
      new java.util.ArrayList[String]())
    val ql = new org.apache.spark.sql.util.QueryExecutionListener {
      override def onSuccess(funcName: String,
          qe: org.apache.spark.sql.execution.QueryExecution, durationNs: Long): Unit =
        actions.add(funcName)
      override def onFailure(funcName: String,
          qe: org.apache.spark.sql.execution.QueryExecution, e: Exception): Unit =
        actions.add(s"FAILED:$funcName")
    }
    val jobExecutions = java.util.concurrent.ConcurrentHashMap.newKeySet[String]()
    val jl = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(js: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        jobExecutions.add(Option(js.properties)
          .flatMap(p => Option(p.getProperty("spark.sql.execution.rootId"))
            .orElse(Option(p.getProperty("spark.sql.execution.root.id")))
            .orElse(Option(p.getProperty("spark.sql.execution.id"))))
          .getOrElse(s"rdd-job-${js.jobId}"))
    }
    var fix: org.apache.spark.sql.DataFrame = null
    spark.listenerManager.register(ql)
    spark.sparkContext.addSparkListener(jl)
    try {
      fix = Similarity.hashMinFixpoint(pairs, verts, "vec_a", "vec_b", "vec_id",
        maxIterations = 20)
      // deliver every queued listener event before counting
      org.apache.spark.ListenerBusDrain(spark.sparkContext)
    } finally {
      spark.sparkContext.removeSparkListener(jl)
      spark.listenerManager.unregister(ql)
    }
    import scala.jdk.CollectionConverters._
    val acts = actions.asScala.toList
    val collects = acts.count(_ == "collect")
    assert(collects >= 2, s"expected Σrep probes, saw $acts")
    assert(jobExecutions.size < acts.size,
      s"every action ran jobs (eager checkpoint revived?): " +
        s"job-running executions=${jobExecutions.size} actions=$acts")
    val got = fix.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == Map(10L -> 10L, 11L -> 10L, 12L -> 10L, 13L -> 10L,
      20L -> 20L, 21L -> 20L, 30L -> 30L))
  }

  test("ivfTopKProbed: probing every cell recovers the brute-force ranking") {
    val centroids = vecs.filter(col("vec_id") < 2)
    val queries = vecs.select(col("vec_id")).filter(col("vec_id") === 0)
    val brute = Similarity.bruteForceTopK(vecs, vecs.filter(col("vec_id") === 0), 3)
      .orderBy("rank").collect().map(_.getLong(2)).toSeq
    val probed = Similarity.ivfTopKProbed(vecs, centroids, queries, k = 3, nprobe = 2)
      .orderBy("rank").collect().map(_.getLong(2)).toSeq
    assert(probed == brute, s"nprobe=all-cells must equal brute force: $probed vs $brute")
    // nprobe=1 searches only the home cell — a subset of the brute ranking
    val one = Similarity.ivfTopKProbed(vecs, centroids, queries, k = 3, nprobe = 1)
      .collect().map(_.getLong(2)).toSet
    assert(one.subsetOf(brute.toSet))
  }

  test("bruteForceTopK: non-integral id column fails fast instead of returning empty") {
    val strVecs = Seq(("a", Seq(1.0f, 0.0f)), ("b", Seq(0.9f, 0.1f)))
      .toDF("vec_id", "embedding")
    val e = intercept[IllegalArgumentException] {
      Similarity.bruteForceTopK(strVecs, strVecs.filter(col("vec_id") === "a"), 1)
    }
    assert(e.getMessage.contains("integral"))
  }

  test("TopKIds buffer: NaN admission matches heap order regardless of arrival order") {
    import graft.functions.GraftExpressions
    // NaN compares greatest under Double.compare (Spark's sort order), so a
    // NaN score must win a top-1 contest whether it arrives first or last
    val b1 = new GraftExpressions.TopKIds.Buffer(1)
    b1.add(Double.NaN, 7L); b1.add(1.0, 8L)
    val b2 = new GraftExpressions.TopKIds.Buffer(1)
    b2.add(1.0, 8L); b2.add(Double.NaN, 7L)
    assert(b1.idsBestFirst.toSeq == Seq(7L))
    assert(b2.idsBestFirst.toSeq == Seq(7L))
  }

  test("nearestCells: nprobe < 1 is a clear error, not ArrayIndexOutOfBounds") {
    import graft.functions.GraftExpressions
    val d = Seq((1L, Seq(1.0f, 0.0f))).toDF("vec_id", "embedding")
    val e = intercept[Exception] {
      d.select(GraftExpressions.nearestCells(col("embedding"),
        Seq(0L), Seq(Seq(1.0, 0.0)), 0)).collect()
    }
    assert(e.getMessage != null && e.getMessage.contains("nprobe"))
  }

  test("cosineNearDupPairs: blocked self-join on a skewed hot cell is EXACT vs the unchunked plan") {
    val rnd = new scala.util.Random(7) // seeded — deterministic test
    // pathological assignment: EVERYTHING lands in one cell, plus a small
    // second cell — the hot-cell case the chunking exists for
    val rows = (0L until 120L).map { i =>
      val cell = if (i < 100) 0L else 1L
      // clusters of near-identical vectors → plenty of above-threshold pairs
      val base = Array.fill(4)(rnd.nextGaussian())
      (i, cell, base.map(x => (x + rnd.nextGaussian() * 0.01).toFloat).toSeq)
    }
    val assigned = rows.toDF("vec_id", "cell", "embedding")
    def pairs(maxCellSize: Int) =
      Similarity.cosineNearDupPairs(assigned, threshold = 0.5, maxCellSize = maxCellSize)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val unchunked = pairs(maxCellSize = 1000000) // G=1 everywhere
    val chunked = pairs(maxCellSize = 8)         // hot cell splits into 13 chunks
    assert(unchunked.nonEmpty, "fixture must produce pairs")
    assert(chunked == unchunked, "chunked plan must return the identical pair set")
    assert(unchunked.forall { case (a, b) => a < b }, "pairs must be canonical (a < b)")
  }

  test("vector folds run INSIDE codegen (no fallback) and match the interpreted fold bit-for-bit") {
    import graft.functions.GraftExpressions
    GraftExpressions.register(spark)
    val d = Seq((Seq(1.0f, 2.0f, 3.0f), Seq(0.5, 0.25, -1.0)))
      .toDF("fa", "db") // mixed float/double element types
    // fail loudly if the generated code does not compile, instead of the
    // silent interpreted fallback Spark does by default
    spark.conf.set("spark.sql.codegen.fallback", "false")
    try {
      val r = d.select(
        Similarity.dot(col("fa"), col("db")).as("dp"),
        Similarity.l2sq(col("fa"), col("db")).as("l2")).collect()(0)
      assert(r.getDouble(0) == (1.0 * 0.5 + 2.0 * 0.25 + 3.0 * -1.0))
      assert(r.getDouble(1) == (0.25 + 3.0625 + 16.0))
    } finally spark.conf.set("spark.sql.codegen.fallback", "true")
  }

  test("pqTopKAdc: with per-vector codebook the ADC ranking equals the exact L2 ranking") {
    // every vector is its own centroid with distinct subspace slices → each
    // encodes to itself → ADC distance = exact (quantized) L2 distance
    val data = Seq(
      (0L, Seq(0.0f, 0.1f, 0.2f, 0.3f)),
      (1L, Seq(0.0f, 0.1f, 0.2f, 0.4f)),  // closest to 0
      (2L, Seq(1.0f, 1.1f, 1.2f, 1.3f)),
      (3L, Seq(5.0f, 5.1f, 5.2f, 5.3f)),
      (4L, Seq(0.5f, 0.4f, 0.3f, 0.2f))).toDF("vec_id", "embedding")
    val got = Similarity.pqTopKAdc(data, data,
      data.select(col("vec_id")).filter(col("vec_id") === 0), k = 3, m = 2)
      .orderBy("rank").collect().map(_.getLong(2)).toSeq
    assert(got == Seq(1L, 4L, 2L)) // exact L2 order from vec 0, self excluded
  }

  test("ivfPqTopK: probing all cells with a per-vector codebook recovers the exact L2 ranking") {
    val data = Seq(
      (0L, Seq(0.0f, 0.1f, 0.2f, 0.3f)),
      (1L, Seq(0.0f, 0.1f, 0.2f, 0.4f)),
      (2L, Seq(1.0f, 1.1f, 1.2f, 1.3f)),
      (3L, Seq(5.0f, 5.1f, 5.2f, 5.3f)),
      (4L, Seq(0.5f, 0.4f, 0.3f, 0.2f))).toDF("vec_id", "embedding")
    val qs = data.select(col("vec_id")).filter(col("vec_id") === 0)
    val all = Similarity.ivfPqTopK(data, data, qs, k = 3, nprobe = 5, m = 2)
      .orderBy("rank").collect().map(_.getLong(2)).toSeq
    assert(all == Seq(1L, 4L, 2L)) // exact order, self excluded
    // nprobe=1 searches only the query's own cell (its own vector here) →
    // candidate set may shrink but never contain out-of-cell neighbors
    val one = Similarity.ivfPqTopK(data, data, qs, k = 3, nprobe = 1, m = 2)
      .collect().map(_.getLong(2)).toSet
    assert(one.subsetOf(Set(1L, 2L, 3L, 4L)))
  }

  test("embeddingClusters: collapse ≡ direct on a mixed corpus; mass-identical vectors collapse") {
    // two identical-vector groups, one near-dup pair, singletons
    val mixed = (
      (1L to 4L).map(i => (i, Seq(1.0f, 0.0f, 0.0f))) ++       // exact group -> 1
      Seq((5L, Seq(0.98f, 0.199f, 0.0f))) ++                    // near-dup of group 1
      (6L to 7L).map(i => (i, Seq(0.0f, 1.0f, 0.0f))) ++       // exact pair -> 6
      Seq((8L, Seq(0.0f, 0.0f, 1.0f)))                          // singleton
    ).toDF("vec_id", "embedding")
    val cents = mixed.filter(col("vec_id").isin(1L, 6L, 8L))
    def asMap(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val collapsed = asMap(Similarity.embeddingClusters(mixed, cents, 0.9,
      collapseThreshold = 2))
    val direct = asMap(Similarity.connectedComponents(
      Similarity.cosineNearDupPairs(Similarity.ivfAssign(mixed, cents), 0.9),
      mixed.select(col("vec_id"))))
    assert(collapsed == direct, s"collapse diverged: $collapsed vs $direct")
    assert(collapsed(4L) == 1L && collapsed(5L) == 1L && collapsed(7L) == 6L
      && collapsed(8L) == 8L)

    // 3000 byte-identical vectors + 2 distinct: the collapsed branch keeps
    // the CC edge set at reps-scale instead of 4.5M identical-pair edges
    val mass = ((1L to 3000L).map(i => (i, Seq(0.5f, 0.5f, 0.0f))) ++
      Seq((9000L, Seq(0.0f, 0.0f, 1.0f)), (9001L, Seq(0.0f, 1.0f, 0.0f))))
      .toDF("vec_id", "embedding")
    val massCents = mass.filter(col("vec_id").isin(1L, 9000L, 9001L))
    val clusters = Similarity.embeddingClusters(mass, massCents, 0.9)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(clusters.size == 3002)
    assert((1L to 3000L).forall(clusters(_) == 1L))
    assert(clusters(9000L) == 9000L && clusters(9001L) == 9001L)
  }

  test("embeddingClusters: null vectors stay singletons through the collapse; empty input is empty") {
    val mixed = (
      (1L to 5L).map(i => (i, Seq(1.0f, 0.0f, 0.0f))) ++
      Seq((50L, null.asInstanceOf[Seq[Float]]), (51L, null.asInstanceOf[Seq[Float]]))
    ).toDF("vec_id", "embedding")
    val cents = mixed.filter(col("vec_id") === 1L)
    val clusters = Similarity.embeddingClusters(mixed, cents, 0.9, collapseThreshold = 2)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(clusters.size == 7, s"rows dropped: $clusters")
    assert((1L to 5L).forall(clusters(_) == 1L))
    assert(clusters(50L) == 50L && clusters(51L) == 51L)
    val empty = mixed.filter(col("vec_id") < 0)
    assert(Similarity.embeddingClusters(empty, cents, 0.9).count() == 0L)
  }

  test("ivfAssign: centroid members map to their own cell") {
    val assigned = Similarity.ivfAssign(vecs, vecs.filter(col("vec_id") < 2))
    val cells = assigned.collect().map(r =>
      r.getLong(r.fieldIndex("vec_id")) -> r.getLong(r.fieldIndex("cell"))).toMap
    assert(cells(0L) == 0L && cells(1L) == 1L)
  }

  test("cosineNearDupAgainst: exact threshold pairs, batch broadcast, no history pairs") {
    val history = Seq(
      (1L, Seq(1.0f, 0.0f, 0.0f)),
      (2L, Seq(0.99f, 0.1f, 0.0f)), // near-dup of vec 1 AND of batch 10
      (3L, Seq(0.0f, 0.0f, 1.0f))).toDF("vec_id", "embedding")
    val batch = Seq(
      (10L, Seq(1.0f, 0.01f, 0.0f)),
      (11L, Seq(0.0f, 1.0f, 0.0f))).toDF("vec_id", "embedding")
    val df = Similarity.cosineNearDupAgainst(history, batch, 0.95)
    val got = df.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // history 1 and 2 match batch 10; batch 11 and history 3 match nothing;
    // the (1,2) history-internal near-dup never appears
    assert(got == Set((1L, 10L), (2L, 10L)))
    val plan = df.queryExecution.explainString(
      org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
    assert(plan.contains("BroadcastNestedLoopJoin") || plan.contains("BroadcastHashJoin"),
      s"batch side not broadcast:\n$plan")
  }

  test("pqTopKAdc / ivfPqTopK: non-integral id fails fast BEFORE the query collect") {
    val strVecs = Seq(("a", Seq(1.0f, 0.0f)), ("b", Seq(0.9f, 0.1f)))
      .toDF("vec_id", "embedding")
    val centroids = vecs.select(col("vec_id"), slice(col("embedding"), 1, 2).as("embedding"))
    val qs = strVecs.select(col("vec_id")).filter(col("vec_id") === "a")
    val e1 = intercept[IllegalArgumentException] {
      Similarity.pqTopKAdc(strVecs, centroids, qs, k = 1, m = 2)
    }
    assert(e1.getMessage.contains("integral"))
    val e2 = intercept[IllegalArgumentException] {
      Similarity.ivfPqTopK(strVecs, centroids, qs, k = 1, nprobe = 1, m = 2)
    }
    assert(e2.getMessage.contains("integral"))
  }

  test("driver-collect guards: oversized query set and codebook fail with actionable errors") {
    val big = spark.range(Similarity.MaxQueryRows + 10)
      .select(col("id").as("vec_id"),
        array(col("id").cast("float"), lit(1.0f)).as("embedding"))
    val eq = intercept[IllegalArgumentException] {
      Similarity.pqTopKAdc(big, big.limit(2), big.select(col("vec_id")), k = 1, m = 2)
    }
    assert(eq.getMessage.contains("query set exceeds"))
    val bigCodebook = spark.range(Similarity.MaxCodebookRows + 10)
      .select(col("id").as("vec_id"),
        array(col("id").cast("float"), lit(1.0f)).as("embedding"))
    val ec = intercept[IllegalArgumentException] {
      Similarity.ivfAssign(vecs, bigCodebook)
    }
    assert(ec.getMessage.contains("codebook exceeds"))
  }

  test("probeGuarded edges: empty batch passes, schema unchanged, at-cap passes") {
    val batch = vecs.limit(0)
    val g = Similarity.probeGuarded(batch, 10, "probe batch", "cure")
    assert(g.columns.toSeq == batch.columns.toSeq, "guard must not change the schema")
    assert(g.count() == 0, "empty batch must pass the in-plan cap check")
    val atCap = Similarity.probeGuarded(vecs, 4, "probe batch", "cure")
    assert(atCap.count() == 4, "at-cap batch must pass and keep every row")
    // a batch that already carries a __ok column must not make the guard's
    // internal filter ambiguous (the check column is referenced through
    // the capCheck frame, not by bare name)
    val withOk = vecs.withColumn("__ok", lit(false))
    val g2 = Similarity.probeGuarded(withOk, 10, "probe batch", "cure")
    assert(g2.columns.toSeq == withOk.columns.toSeq && g2.count() == 4)
  }

  test("cosineNearDupAgainst: oversized probe batch fails fast naming the blocked alternative") {
    val history = spark.range(4).select(col("id").as("vec_id"),
      array(col("id").cast("float"), lit(1.0f)).as("embedding"))
    val batch = spark.range(12).select((col("id") + 100).as("vec_id"),
      array(col("id").cast("float"), lit(1.0f)).as("embedding"))
    // the guard is IN-PLAN (no per-call driver action), so it fires at
    // execution time — before the probe broadcast collects
    val e = intercept[Throwable] {
      Similarity.cosineNearDupAgainst(history, batch, 0.9, maxBatchRows = 10).collect()
    }
    def messages(t: Throwable): String =
      if (t == null) "" else Option(t.getMessage).getOrElse("") + "\n" + messages(t.getCause)
    val all = messages(e)
    assert(all.contains("probe batch exceeds 10 rows"), all)
    assert(all.contains("cosineNearDupPairs"), all)
    // at the cap it still runs (guard counts, does not truncate)
    val atCap = Similarity.cosineNearDupAgainst(history, batch.limit(10), 0.9,
      maxBatchRows = 10)
    assert(atCap.columns.toSeq == Seq("history_id", "batch_id"))
    atCap.collect() // the in-plan check must pass, not just plan
  }
}
