package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Approximate/exact nearest-neighbor search over an embedding column
  * (`array<float>`).
  *
  * Determinism: all reductions are strict left folds over the vector in
  * index order, in double precision — the same fold the DuckDB oracle
  * performs — so similarity values are bit-identical across engines and the
  * derived rankings agree exactly.
  *
  * Scale design: the brute-force path broadcasts the (small) query set and
  * scans the corpus once; per-query top-k is a bounded-heap AGGREGATION
  * (map-side partials, shuffle volume O(k·|queries|·mappers)) — never a
  * `query_id`-partitioned window, which would funnel the whole scored
  * corpus into |queries| sort tasks. IVF cell assignment embeds the
  * driver-collected codebook as plan literals and is a pure narrow
  * projection: the corpus is never joined or shuffled to be assigned.
  */
object Similarity {

  import graft.functions.GraftExpressions

  /** Strict sequential left fold: sum of elementwise products (double).
    * Requires [[GraftExpressions.register]] on the session (the public
    * operators below do it automatically).
    */
  def dot(a: Column, b: Column): Column = GraftExpressions.dotProduct(a, b)

  /** try_divide, not `/`: a zero-norm vector (failed-embedding artifact)
    * makes the denominator 0, which under ANSI mode (the Spark 4 default)
    * THROWS and kills the whole job; null = "similarity undefined" is the
    * correct verdict, and every consumer (threshold filters, the top-k
    * aggregate) already excludes null.
    */
  def cosine(a: Column, b: Column): Column =
    try_divide(dot(a, b), sqrt(dot(a, a)) * sqrt(dot(b, b)))

  def l2sq(a: Column, b: Column): Column = GraftExpressions.l2Squared(a, b)

  /** The per-query top-k finisher shared by every ANN entry point: a
    * bounded-heap aggregation ([[GraftExpressions.TopKIds]]) instead of a
    * `row_number` window. The window would shuffle EVERY scored row into
    * |queries| partitions and sort them — a handful of tasks absorb the
    * corpus at batch-ANN scale. The aggregate keeps ≤ k candidates per
    * (mapper, query) before the shuffle, so shuffle volume is
    * O(k·|queries|·mappers) regardless of corpus size, and nothing sorts.
    */
  private val integralTypes: Set[DataType] = Set(LongType, IntegerType, ShortType, ByteType)

  /** Driver-collect caps. Codebooks and query sets ride into the plan as
    * literals (the broadcast-build-side pattern minus the join), which is
    * only sound while they are genuinely small: beyond these bounds the
    * collect risks driver OOM and — for the PQ paths — the literal LUTs
    * (|queries|·m·|codebook| entries) would bloat the serialized plan past
    * what executors deserialize cheaply. Both limits fail fast with an
    * actionable message instead of an opaque OOM.
    */
  val MaxCodebookRows = 65536
  val MaxQueryRows = 4096

  /** Cap on the broadcast side of the incremental (cross-batch) probes
    * ([[cosineNearDupAgainst]], `TextDedup.minhashCandidatePairsAgainst`):
    * "the batch is small by definition" is a contract, and an unenforced
    * contract fails as an opaque multi-GB broadcast error mid-join. At 64k
    * rows a 768-float embedding batch broadcasts ~200 MB — near the
    * comfortable ceiling for per-executor build sides.
    */
  val MaxProbeBatchRows = 65536

  /** Eager bounded count of a probe batch: scans at most `cap`+1 rows (the
    * limit short-circuits the scan), so the guard stays cheap on an
    * arbitrarily large mis-passed frame. Prefer [[probeGuarded]] when the
    * guarded frame ends in an exchange the check can reuse; keep THIS form
    * when the in-plan check would only serialize one more broadcast stage
    * ahead of the probe's own broadcast (measured on the minhash probe:
    * in-plan was +2 jobs / +0.25 s because the raw batch offers no
    * exchange to share).
    */
  private[graft] def requireProbeBatch(
      batch: DataFrame, cap: Int, what: String, cure: String): Unit = {
    val n = batch.limit(cap + 1).count()
    require(n <= cap,
      s"$what exceeds $cap rows; it broadcasts whole to every executor — $cure")
  }

  /** In-plan probe cap (the repeated-span guard's pattern): a 1-row
    * cap-check aggregate — bounded by `limit(cap+1)`, so the check scans at
    * most cap+1 rows of a mis-passed corpus — cross-joined under the
    * caller's broadcast side. Unlike the eager [[requireProbeBatch]], the
    * guard adds NO separate driver action (one scheduled job + a batch scan
    * per incremental probe call — pure overhead in the per-batch service
    * loop); the 1-row check broadcast materializes BEFORE the probe
    * broadcast collects, so an over-cap batch raises the cure instead of
    * OOMing mid-build, and when `batch` already ends in an exchange
    * (a distinct'd fingerprint set) ReusedExchange computes it once for
    * check and probe. Failure surfaces at EXECUTION time (first action),
    * not at plan-build time.
    */
  private[operators] def probeGuarded(
      batch: DataFrame, cap: Int, what: String, cure: String): DataFrame = {
    val capCheck = batch.limit(cap + 1).agg(
      when(count(lit(1)) > cap,
        raise_error(lit(s"$what exceeds $cap rows; it broadcasts whole to " +
          s"every executor — $cure")))
        .otherwise(lit(true)).as("__ok"))
    // reference the check column THROUGH the capCheck frame: a bare
    // col("__ok") would be ambiguous (plan-time failure) for a valid batch
    // that happens to carry its own __ok column
    batch.crossJoin(broadcast(capCheck))
      .filter(capCheck("__ok")).drop(capCheck("__ok"))
  }

  private def requireIntegralId(idType: DataType, what: String): Unit =
    require(integralTypes.contains(idType),
      s"$what column must be integral (byte/short/int/long), got $idType; " +
        "derive a surrogate long id (xxhash64, monotonically_increasing_id) before calling")

  private def topKSelect(scored: DataFrame, k: Int, idType: DataType): DataFrame = {
    // the bounded-heap aggregate keys candidates by a primitive long; a
    // non-integral id would cast to null and be silently dropped, so fail
    // fast instead (map string ids to a surrogate long first, e.g. xxhash64
    // or monotonically_increasing_id)
    requireIntegralId(idType, "top-k id")
    // undefined similarity = not a candidate: a zero-norm vector's cosine
    // is null (try_divide; the bare `/` THROWS under ANSI), and a vector
    // carrying NaN elements folds to a NaN score, which the heap's total
    // order would rank above every real score — the #1 neighbor of EVERY
    // query. The filter drops both (null comparisons are null → dropped);
    // the threshold paths reject them for free (`NaN > t` is false).
    scored.filter(!isnan(col("__sim")))
      .groupBy(col("query_id"))
      .agg(GraftExpressions.topKIds(col("__sim"), col("neighbor_id").cast(LongType), k).as("__top"))
      .select(col("query_id"), posexplode(col("__top")).as(Seq("__pos", "__nid")))
      .select(col("query_id"), (col("__pos") + 1).cast(IntegerType).as("rank"),
        col("__nid").cast(idType).as("neighbor_id"))
  }

  /** Exact top-k cosine neighbors of each query vector (brute force — the
    * correctness baseline). Output: (query_id, rank, neighbor_id).
    */
  def bruteForceTopK(
      corpus: DataFrame, queries: DataFrame, k: Int,
      idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    GraftExpressions.register(corpus.sparkSession)
    val idType = corpus.schema(idCol).dataType
    // norms once per vector, not once per pair (values identical:
    // sim = dot/(sqrt(dot(q,q))·sqrt(dot(c,c))) either way)
    val q = queries.select(col(idCol).as("query_id"), col(vecCol).as("__qv"),
      sqrt(dot(col(vecCol), col(vecCol))).as("__qn"))
    val c = Scale.widen(corpus).select(col(idCol).as("neighbor_id"), col(vecCol).as("__cv"),
      sqrt(dot(col(vecCol), col(vecCol))).as("__cn"))
    val scored = c.join(broadcast(q), col("neighbor_id") =!= col("query_id"))
      .withColumn("__sim", try_divide(dot(col("__qv"), col("__cv")), col("__qn") * col("__cn")))
    topKSelect(scored, k, idType)
  }

  /** A centroid codebook collected to the driver: (ids sorted ascending,
    * vectors in doubles, original id type). Centroids are by construction a
    * small table (an IVF codebook — thousands of cells at most), so pulling
    * them into the plan as literals is the broadcast-build-side pattern
    * minus the join.
    */
  private def codebook(
      centroids: DataFrame, idCol: String, vecCol: String): (Seq[Long], Seq[Seq[Double]], DataType) = {
    val idType = centroids.schema(idCol).dataType
    requireIntegralId(idType, "centroid id")
    // limit(cap+1) bounds the fetch BEFORE the guard runs, so an oversized
    // centroid frame fails with this message instead of a driver OOM
    val rows = centroids.select(col(idCol).cast(LongType), col(vecCol))
      .limit(MaxCodebookRows + 1).collect()
    require(rows.length <= MaxCodebookRows,
      s"centroid codebook exceeds $MaxCodebookRows rows; it is embedded in the plan " +
        "as literals and must stay small — pre-cluster to a coarser codebook first")
    require(rows.nonEmpty, "centroid set must be non-empty")
    val sorted = rows.sortBy(_.getLong(0))
    val ids = sorted.toSeq.map(_.getLong(0))
    val vecs = sorted.toSeq.map(_.getSeq[Any](1).map {
      case f: java.lang.Float => f.toDouble
      case d: java.lang.Double => d.doubleValue()
      case n: java.lang.Number => n.doubleValue()
    }.toSeq)
    (ids, vecs, idType)
  }

  /** The collected query-vector set shared by the PQ scoring paths (plan-
    * literal pattern like [[codebook]]): validates the id type BEFORE the
    * collect (a string/decimal id would cast to null and surface as an
    * opaque NPE) and bounds the fetch at [[MaxQueryRows]] — the PQ LUTs are
    * per-query plan literals, so the query set must stay batch-sized.
    */
  private def collectQueries(
      vectors: DataFrame, queryIds: DataFrame,
      idCol: String, vecCol: String): Array[(Long, Array[Double])] = {
    requireIntegralId(vectors.schema(idCol).dataType, "top-k id")
    val rows = vectors.join(queryIds, Seq(idCol), "left_semi")
      .select(col(idCol).cast(LongType), col(vecCol))
      .limit(MaxQueryRows + 1).collect()
    require(rows.length <= MaxQueryRows,
      s"query set exceeds $MaxQueryRows rows; the PQ paths embed per-query literal " +
        "distance tables in the plan — batch the probe set, or use " +
        "ivfTopKProbed/bruteForceTopK for large query sets")
    require(rows.nonEmpty, "query set must be non-empty")
    rows.map { r =>
      val v = r.getSeq[Any](1).map {
        case f: java.lang.Float => f.toDouble
        case d: java.lang.Double => d.doubleValue()
        case n: java.lang.Number => n.doubleValue()
      }.toArray
      (r.getLong(0), v)
    }.sortBy(_._1)
  }

  /** IVF assignment: nearest centroid id per vector (L2), ties broken by
    * centroid id. A pure narrow projection: the centroid codebook is
    * collected (it is small by definition) and embedded as plan literals, so
    * assignment costs one scan — no join, no window, no shuffle — and
    * scales embarrassingly with executors.
    */
  def ivfAssign(
      vectors: DataFrame, centroids: DataFrame,
      idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    GraftExpressions.register(vectors.sparkSession)
    val (ids, vecs, idType) = codebook(centroids, idCol, vecCol)
    Scale.widen(vectors).withColumn("cell",
      element_at(GraftExpressions.nearestCells(col(vecCol), ids, vecs, 1), 1).cast(idType))
  }

  /** Embedding near-duplicate CLUSTER mapping: IVF-cell-blocked cosine
    * pairs → connected components, with the same adaptive mass-duplicate
    * guard as [[TextDedup.corpusClusters]]. The triangle split in
    * [[cosineNearDupPairs]] bounds PER-TASK work for a hot cell, but m
    * byte-identical vectors still emit m²/2 EDGE rows into the CC shuffle
    * (1e5 copies of one zero-vector embedding is 5e9 edges). A one-job
    * probe over `md5(cast(vec as string))` group sizes detects the regime;
    * above `collapseThreshold` each identical-vector group collapses to
    * its min-id representative before assignment/pairing (cos(v,v) = 1 >
    * any threshold < 1, reps carry group-min ids, and identical vectors
    * share cell assignment exactly, so the expanded clusters equal the
    * direct computation's).
    */
  /** Shared mass-duplicate collapse probe ([[embeddingClusters]] and
    * [[TextDedup.corpusClusters]]): key each row by `rawKey`, with a
    * PER-ROW sentinel for null keys ("n!" is not hex, so it can never
    * collide with an md5 — null-keyed rows stay their own singleton
    * groups, matching the direct pipelines where nulls never pair).
    * Returns the keyed frame and the largest group size (0 when empty;
    * one cheap job: map-side partial counts, 16-byte-key shuffle, max).
    */
  private[operators] def collapseProbe(df: DataFrame, rawKey: Column,
      idCol: String, keyName: String): (DataFrame, Long) = {
    val keyed = df.withColumn(keyName,
      coalesce(rawKey,
        concat(lit("n!"), col(idCol).cast(org.apache.spark.sql.types.StringType))))
    val maxGroup = keyed.groupBy(col(keyName)).agg(count(lit(1)).as("__n"))
      .agg(coalesce(max(col("__n")), lit(0L))).head().getLong(0)
    (keyed, maxGroup)
  }

  def embeddingClusters(
      vectors: DataFrame, centroids: DataFrame, threshold: Double,
      idCol: String = "vec_id", vecCol: String = "embedding",
      maxCellSize: Int = 4096, collapseThreshold: Int = 256): DataFrame = {
    def direct(vs: DataFrame): DataFrame = {
      val pairs = cosineNearDupPairs(ivfAssign(vs, centroids, idCol, vecCol),
        threshold, idCol, vecCol, maxCellSize)
      connectedComponents(pairs, vs.select(col(idCol)), "vec_a", "vec_b", idCol)
    }
    // threshold within 1e-12 of 1 (or above) runs direct: an identical
    // pair's computed cosine is d/(√d·√d) = 1 ± ~1e-15 of float error, so
    // inside that band the strict `> threshold` filter may or may not
    // keep the pair and the collapse (which merges identical vectors
    // unconditionally) could diverge from the direct computation. Below
    // the band the collapse is exact, and it must stay ARMED there —
    // near-exact thresholds like 0.999 are precisely the regime where m
    // identical vectors would otherwise blow an IVF cell up to m²/2
    // edges.
    if (threshold >= 1.0 - 1e-12) return direct(vectors)
    val (keyed, maxGroup) = collapseProbe(
      vectors.select(col(idCol), col(vecCol)),
      md5(col(vecCol).cast(org.apache.spark.sql.types.StringType)), idCol, "__vkey")
    if (maxGroup < collapseThreshold.toLong) direct(vectors)
    else {
      val groups = keyed.groupBy(col("__vkey")).agg(min(col(idCol)).as("__rep"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      try {
        val reps = keyed
          .join(groups.select(col("__rep").as(idCol)), Seq(idCol), "left_semi")
          .select(col(idCol), col(vecCol))
        val repClusters = direct(reps)
        keyed.select(col(idCol).as("__did"), col("__vkey"))
          .join(groups.select(col("__vkey"), col("__rep")), "__vkey")
          .join(repClusters.withColumnRenamed(idCol, "__rep")
            .withColumnRenamed("cluster", "__cl"), "__rep")
          .select(col("__did").as(idCol), col("__cl").as("cluster"))
      } finally groups.unpersist(false)
    }
  }

  /** Embedding-cosine near-duplicate pairs: all pairs within the same IVF
    * cell whose cosine exceeds `threshold` — the embedding member of the
    * dedup family (cell restriction bounds the pair space to ~N²/cells;
    * cells shuffle once, pair generation is a per-cell join).
    *
    * Skew guard: a hot cell of n > `maxCellSize` members would put an O(n²)
    * pair space into ONE join task. Members of such a cell are hashed into
    * G = ⌈n / maxCellSize⌉ chunks and the within-cell self-join becomes
    * G·(G+1)/2 chunk-pair buckets — the classic blocked ("triangle") self-
    * join distribution. EXACT: every within-cell pair appears in exactly one
    * bucket, so the result set is identical to the naive join; only the task
    * granularity changes (per-task pair work ≤ ~maxCellSize², per-row
    * replication G+1). Cells at or below the cap keep G = 1 and degenerate
    * to the plain plan.
    */
  def cosineNearDupPairs(
      assigned: DataFrame, threshold: Double,
      idCol: String = "vec_id", vecCol: String = "embedding",
      maxCellSize: Int = 4096): DataFrame = {
    require(maxCellSize >= 1, s"maxCellSize must be >= 1, got $maxCellSize")
    GraftExpressions.register(assigned.sparkSession)
    // per-cell chunk counts: the cell table is codebook-sized — broadcast
    val counts = assigned.groupBy(col("cell")).agg(count(lit(1)).as("__n"))
    val base = assigned.join(broadcast(counts), Seq("cell"))
      .withColumn("__g", ceil(col("__n") / lit(maxCellSize.toDouble)).cast(IntegerType))
      .withColumn("__c", pmod(xxhash64(col(idCol)), col("__g")).cast(IntegerType))
      .select(col("cell"), col("__g"), col("__c"), col(idCol), col(vecCol),
        sqrt(dot(col(vecCol), col(vecCol))).as("__norm"))
    // triangle distribution: chunk c joins bucket (i=c, j=h) for h ≥ c on the
    // A side and (i=h, j=c) for h ≤ c on the B side → each unordered chunk
    // pair meets in exactly one bucket
    val aSide = base.withColumn("__j", explode(sequence(col("__c"), col("__g") - 1)))
      .select(col("cell"), col("__c").as("__i"), col("__j"),
        col(idCol).as("vec_a"), col(vecCol).as("__va"), col("__norm").as("__na"))
    val bSide = base.withColumn("__i", explode(sequence(lit(0), col("__c"))))
      .select(col("cell"), col("__i"), col("__c").as("__j"),
        col(idCol).as("vec_b"), col(vecCol).as("__vb"), col("__norm").as("__nb"))
    aSide.join(bSide, Seq("cell", "__i", "__j"))
      // same-chunk bucket holds both orientations → keep one; cross-chunk
      // buckets hold each pair once in arbitrary id order → keep all
      .filter(col("__i") =!= col("__j") || col("vec_a") < col("vec_b"))
      .withColumn("__sim", try_divide(dot(col("__va"), col("__vb")), col("__na") * col("__nb")))
      .filter(col("__sim") > threshold)
      .select(least(col("vec_a"), col("vec_b")).as("vec_a"),
        greatest(col("vec_a"), col("vec_b")).as("vec_b"))
  }

  /** Incremental (cross-batch) embedding near-dup: EXACT cosine-threshold
    * pairs between a standing `history` corpus and one new `batch` — the
    * per-ingest semantic-dedup probe. The batch is small by definition, so
    * it broadcasts whole and history streams through ONE narrow scan of
    * |history|·|batch| codegen'd folds: exact (no cell-boundary recall
    * loss), no index build, no shuffle of the corpus. For batch sizes past
    * a few thousand, assign both sides to IVF cells first and use
    * [[cosineNearDupPairs]]'s blocked join instead.
    *
    * @note failure contract of `maxBatchRows`: the cap check is IN-PLAN
    *       ([[probeGuarded]]) — an over-cap batch fails at EXECUTION time
    *       as a `SparkException` wrapping the raise_error message, not as
    *       an eager `IllegalArgumentException` at call time, and a frame
    *       that is built but never executed skips the guard entirely.
    */
  def cosineNearDupAgainst(
      history: DataFrame, batch: DataFrame, threshold: Double,
      idCol: String = "vec_id", vecCol: String = "embedding",
      maxBatchRows: Int = MaxProbeBatchRows): DataFrame = {
    GraftExpressions.register(history.sparkSession)
    val h = Scale.widen(history).select(col(idCol).as("history_id"), col(vecCol).as("__hv"),
      sqrt(dot(col(vecCol), col(vecCol))).as("__hn"))
    val b = probeGuarded(batch, maxBatchRows, "probe batch",
        "for large batches assign both sides to IVF cells (ivfAssign) and use " +
          "cosineNearDupPairs's blocked cell join instead")
      .select(col(idCol).as("batch_id"), col(vecCol).as("__bv"),
        sqrt(dot(col(vecCol), col(vecCol))).as("__bn"))
    h.join(broadcast(b), lit(true))
      .withColumn("__sim", try_divide(dot(col("__hv"), col("__bv")), col("__hn") * col("__bn")))
      .filter(col("__sim") > threshold)
      .select(col("history_id"), col("batch_id"))
  }

  /** Connected components over a pair table (undirected): every vertex maps
    * to the minimum id reachable through the pairs — the cluster
    * representative for near-dup collapse. Deterministic: the min-rep
    * fixpoint is unique.
    *
    * Algorithm — the "filtering" CC technique, shaped for Spark:
    *  1. one `mapPartitions` pass union-finds each edge partition locally
    *     and emits star edges `(v, localMinRoot)` — connectivity preserved,
    *     edge set contracted to the distinct vertices per partition, no
    *     driver round-trips;
    *  2. levels repeat with geometrically fewer partitions while the star
    *     set is too big for one task (each task's input stays bounded by
    *     `maxLocalEdges`);
    *  3. when it fits, a single-task union-find computes the exact
    *     min-reachable representative per vertex (one job, not a fixpoint);
    *  4. only if the distinct-vertex set itself exceeds the bound does the
    *     hash-min + pointer-jumping fixpoint run — on the CONTRACTED star
    *     graph, whose diameter is ≤ 2 per level, so few rounds.
    *
    * Per-task memory is O(distinct vertices in that task's slice), and the
    * bench-scale path is 3-4 Spark jobs total instead of ~4 per fixpoint
    * round.
    */
  def connectedComponents(
      pairs: DataFrame, vertices: DataFrame,
      aCol: String = "vec_a", bCol: String = "vec_b", idCol: String = "vec_id",
      // 2M star edges ≈ a few hundred MB of boxed HashMap in the finisher
      // task — safe on default executor heaps; raise with off-heap-sized
      // executors, or let the fixpoint fallback take over beyond it
      maxIterations: Int = 20, maxLocalEdges: Long = 2_000_000L): DataFrame = {
    val spark = pairs.sparkSession
    import spark.implicits._
    val integral = Seq(pairs.schema(aCol).dataType, pairs.schema(bCol).dataType)
      .forall(t => t == LongType || t == IntegerType || t == ShortType || t == ByteType)
    if (!integral)
      return hashMinFixpoint(pairs, vertices, aCol, bCol, idCol, maxIterations)

    val edges = pairs.select(col(aCol).cast(LongType), col(bCol).cast(LongType))
      .as[(Long, Long)]
    var stars = contractPartitions(edges)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // FUSED count+collect: the ONE materializing job that fills the persist
    // also returns each partition's exact count plus its first ≤100001 star
    // edges — so the common small-graph case (every micro-batch, most bench
    // corpora) needs NO second collect job before the driver-side finish.
    // The data piggyback is GATED on partition count: worst-case transfer
    // is partitions × 100001 edges, so beyond 32 partitions (where the
    // saved ~55 ms scheduling round-trip is noise anyway) the job ships
    // counts only — a 2000-partition 100 TB star set must never push
    // multiple GB at the driver just to learn it is not small.
    var parts = stars.rdd.getNumPartitions
    val packData = parts <= 32
    val packed = stars.rdd.mapPartitions { it =>
      val buf = new scala.collection.mutable.ArrayBuffer[(Long, Long)](64)
      var n = 0L
      it.foreach { e => n += 1; if (packData && n <= 100001L) buf += e }
      Iterator((n, buf.toArray))
    }.collect()
    var cnt = packed.iterator.map(_._1).sum
    // complete only if no partition truncated its slice (total ≤ 100k ⇒
    // every partition emitted all rows, since each kept up to 100001)
    val packedRows: Array[(Long, Long)] =
      if (packData && cnt <= 100000L) packed.iterator.flatMap(_._2).toArray else null
    // shrink levels while each task's slice stays within the memory bound.
    // packedRows != null means the COMPLETE (≤100k-edge) star set is
    // already at the driver and the union-find finisher below will use it
    // — shrinking further (possible when the caller passes maxLocalEdges
    // < 100k) would be contraction jobs whose output the finisher ignores.
    while (packedRows == null && cnt > maxLocalEdges && parts > 1 &&
        math.max(1, parts / 8) >= (cnt + maxLocalEdges - 1) / maxLocalEdges) {
      parts = math.max(1, parts / 8)
      val next = contractPartitions(stars.repartition(parts))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      cnt = next.count() // one materializing job per level, not two
      stars.unpersist()
      stars = next
    }
    val mapping: DataFrame =
      if (cnt <= 100000L) {
        // small contracted graph: the mapping would be broadcast (= pulled
        // to the driver) anyway, so finish the union-find driver-side
        // directly from the collected stars — saves the coalesce(1)
        // contraction job, its checkpoint, and the broadcast build.
        // packedRows is null only if the shrink LOOP ran (guarded above on
        // packedRows == null) and contracted a huge graph under 100k —
        // collect the contracted stars then.
        val local = if (packedRows != null) packedRows else stars.collect()
        val parent = scala.collection.mutable.HashMap.empty[Long, Long]
        def find(x0: Long): Long = {
          var x = x0
          var p = parent.getOrElse(x, x)
          while (p != x) { x = p; p = parent.getOrElse(x, x) }
          var y = x0
          while (parent.getOrElse(y, y) != x) { val n = parent(y); parent(y) = x; y = n }
          x
        }
        local.foreach { case (a, b) =>
          val ra = find(a); val rb = find(b)
          if (ra != rb) { if (ra < rb) parent(rb) = ra else parent(ra) = rb }
        }
        val ids = local.iterator.flatMap(e => Iterator(e._1, e._2)).toArray.distinct
        spark.createDataFrame(ids.toSeq.map(v => (v, find(v)))).toDF("__id", "__rep")
      } else if (cnt <= maxLocalEdges)
        contractPartitions(stars.coalesce(1)).toDF("__id", "__rep")
          .localCheckpoint(true)
      else // vertex set alone exceeds the bound: distributed fixpoint on the
           // contracted graph (star edges, diameter ≤ 2)
        hashMinFixpoint(stars.toDF("__a", "__b"),
          stars.flatMap(e => Seq(e._1, e._2)).distinct().toDF("__v"),
          "__a", "__b", "__v", maxIterations)
          .toDF("__id", "__rep")
          .localCheckpoint(true)
    stars.unpersist()
    val idType = vertices.schema(vertices.columns.indexOf(idCol)).dataType
    // measured at the threshold (Spark 4.1): a 1M-row
    // (long, long) mapping broadcasts as 39.6 MiB serialized and costs
    // ~71 MB resident driver heap for the HashedRelation build — 4× the
    // 10 MB autoBroadcastJoinThreshold default but well inside normal
    // driver sizing, and it spares the full vertices-table shuffle that
    // dominates beyond it. Above 1M rows the shuffle join is the safer
    // trade (mapping size grows with the duplicate-vertex count, which is
    // unbounded).
    val smallMapping = if (cnt <= 1000000L) broadcast(mapping) else mapping
    vertices.select(col(idCol))
      .join(smallMapping, col(idCol) === col("__id"), "left")
      .select(col(idCol),
        coalesce(col("__rep").cast(idType), col(idCol)).as("cluster"))
  }

  /** Partition-local union-find contraction: emit `(v, find(v))` for every
    * vertex seen in this partition's edges, with the minimum id as root.
    * The union of these star forests has exactly the original connectivity.
    */
  private def contractPartitions(
      edges: org.apache.spark.sql.Dataset[(Long, Long)]): org.apache.spark.sql.Dataset[(Long, Long)] = {
    import edges.sparkSession.implicits._
    edges.mapPartitions { it =>
      val parent = scala.collection.mutable.HashMap.empty[Long, Long]
      def find(x0: Long): Long = {
        var x = x0
        var p = parent.getOrElse(x, x)
        while (p != x) { x = p; p = parent.getOrElse(x, x) }
        var y = x0 // path compression
        while (parent.getOrElse(y, y) != x) { val n = parent(y); parent(y) = x; y = n }
        x
      }
      val seen = scala.collection.mutable.HashSet.empty[Long]
      it.foreach { case (a, b) =>
        seen += a; seen += b
        val ra = find(a); val rb = find(b)
        if (ra != rb) { if (ra < rb) parent(rb) = ra else parent(ra) = rb }
      }
      seen.iterator.map(v => (v, find(v)))
    }
  }

  /** Hash-min + pointer-jumping fixpoint (the Pregel-ish iterative pattern:
    * one join+agg per round, localCheckpoint per iteration to truncate the
    * self-joining lineage — without it the plan doubles per round and the
    * analyzer OOMs long before the data does). Used directly for
    * non-integral vertex ids, and as the huge-graph fallback after
    * contraction. Convergence via Σrep: strictly decreasing until fixpoint.
    */
  /** Free the storage blocks behind a superseded localCheckpoint'd frame.
    * A local checkpoint CANNOT recompute once its blocks drop (lineage is
    * truncated), so this must only run when the frame is provably no
    * longer referenced — here: a fixpoint iteration's predecessor after
    * the successor has eagerly materialized.
    */
  private def dropCheckpoint(df: DataFrame): Unit =
    df.queryExecution.analyzed match {
      case lr: org.apache.spark.sql.execution.LogicalRDD => lr.rdd.unpersist(false)
      case _ =>
    }

  private[operators] def hashMinFixpoint(
      pairs: DataFrame, vertices: DataFrame,
      aCol: String, bCol: String, idCol: String,
      maxIterations: Int): DataFrame = {
    val edges = pairs.select(col(aCol).as("__src"), col(bCol).as("__dst"))
      .union(pairs.select(col(bCol).as("__src"), col(aCol).as("__dst")))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // convergence metric: reps only ever decrease (min-fixpoint), so for
    // numeric ids an unchanged Σrep proves the fixpoint exactly; for other
    // id types fall back to a 64-bit hash sum (collision ~2⁻⁶⁴ per round).
    // Decimal(38,0) accumulation cannot overflow under ANSI mode.
    val numericRep = vertices.schema(vertices.columns.indexOf(idCol)).dataType
      .isInstanceOf[org.apache.spark.sql.types.NumericType]
    def repSum(df: DataFrame): java.math.BigDecimal = {
      val v = if (numericRep) col("__rep").cast(DecimalType(38, 0))
              else xxhash64(col("__rep")).cast(DecimalType(38, 0))
      Option(df.agg(sum(v)).collect()(0).getDecimal(0))
        .getOrElse(java.math.BigDecimal.ZERO)
    }
    // LAZY checkpoints (r19, guide §7.3 driver round-trips): the eager form
    // ran TWO actions per fixpoint round — the checkpoint-materializing job
    // plus the Σrep convergence collect. A lazy localCheckpoint still
    // truncates the self-joining lineage at the same point (the frame is
    // LogicalRDD-backed immediately), but its blocks fill under the FIRST
    // action — the convergence aggregate itself, which scans every
    // partition — so each round is one job: probe and iterate fused.
    var reps = vertices.select(col(idCol).as("__id"), col(idCol).as("__rep"))
      .localCheckpoint(false)
    var prevSum = repSum(reps)
    var iter = 0
    var changed = true
    while (changed && iter < maxIterations) {
      val neighborMin = edges.join(reps, col("__dst") === col("__id"))
        .groupBy(col("__src")).agg(min(col("__rep")).as("__nrep"))
      val hop = reps.join(neighborMin, col("__id") === col("__src"), "left")
        .select(col("__id"),
          least(col("__rep"), coalesce(col("__nrep"), col("__rep"))).as("__rep"))
      // pointer jumping: also adopt rep(rep(v)) → O(log diameter) rounds
      val updated = hop.alias("u")
        .join(hop.select(col("__id").as("__rid"), col("__rep").as("__rrep")).alias("rr"),
          col("u.__rep") === col("__rid"), "left")
        .select(col("u.__id").as("__id"),
          least(col("u.__rep"), coalesce(col("__rrep"), col("u.__rep"))).as("__rep"))
        .localCheckpoint(false) // materialized by the repSum action below
      val newSum = repSum(updated)
      changed = newSum.compareTo(prevSum) != 0
      prevSum = newSum
      // the superseded iteration's checkpoint blocks would otherwise
      // accumulate for the whole fixpoint (iterations × |V| rows of
      // storage) — `updated` is already materialized, so `reps` is dead
      dropCheckpoint(reps)
      reps = updated
      iter += 1
    }
    edges.unpersist()
    // a silently-returned NON-fixpoint would split true components apart
    // (some vertices still carry non-minimal reps) and read as a valid
    // clustering; with pointer jumping the rounds needed are
    // O(log diameter), so hitting the cap means the cap is wrong for this
    // graph — fail with the cure, not with wrong clusters
    require(!changed,
      s"connected-components min-fixpoint did not converge in $maxIterations " +
        "iterations; raise maxIterations (rounds grow ~log of the component " +
        "diameter, so the default 20 covers diameters up to ~2^20)")
    reps.select(col("__id").as(idCol), col("__rep").as("cluster"))
  }

  /** Product-quantization encode: the vector splits into `m` equal-length
    * subvectors; each maps to its nearest sub-centroid (L2, ties on centroid
    * id) from the codebook built by slicing `centroids` the same way. Output
    * is the long form `(idCol, subspace, code)` — m·|vectors| rows. Same
    * scale shape as [[ivfAssign]]: the codebook embeds as plan literals, so
    * encoding is a narrow projection (no join, no shuffle); at 100 TB the
    * codes are ~m bytes/vector instead of 4·dim, the standard memory-bound
    * ANN compaction.
    */
  def pqEncode(
      vectors: DataFrame, centroids: DataFrame, m: Int,
      idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    GraftExpressions.register(vectors.sparkSession)
    val (ids, vecs, _) = codebook(centroids, idCol, vecCol)
    val dim = vecs.head.length
    require(dim % m == 0, s"vector dim $dim must be divisible by m=$m subspaces")
    require(vecs.forall(_.length == dim), "centroid dims must agree")
    val sub = dim / m
    val codeCols = (0 until m).map { s =>
      val subCodebook = vecs.map(_.slice(s * sub, (s + 1) * sub))
      element_at(GraftExpressions.nearestCells(
        slice(col(vecCol), s * sub + 1, sub), ids, subCodebook, 1), 1).as(s"__c$s")
    }
    Scale.widen(vectors)
      .select(col(idCol) +: codeCols: _*)
      .select(col(idCol), posexplode(array((0 until m).map(s => col(s"__c$s")): _*))
        .as(Seq("subspace", "code")))
      .select(col(idCol), col("subspace").cast(LongType).as("subspace"), col("code"))
  }

  /** PQ asymmetric-distance (ADC) top-k: queries stay full-precision, the
    * corpus is scanned as PQ codes, and each (query, subspace) contributes a
    * looked-up partial distance from a 16-entry table — the standard
    * memory-bound ANN search (IVF-PQ's scoring half; compose with
    * [[ivfTopKProbed]]'s cell pruning for the full architecture).
    *
    * Scale shape: the query set is collected (small by contract — it is the
    * batch-ANN probe set) and its per-subspace distance LUTs ride into the
    * plan as literal maps, so scoring is ONE narrow scan of the corpus
    * (encode + m map lookups + a long sum per query) followed by the
    * bounded-heap top-k aggregation. No join, no shuffle before the
    * O(k·|queries|·mappers) aggregate.
    *
    * Determinism: per-subspace distances quantize to integer micro-units
    * (Spark `round`, same as the DuckDB oracle) BEFORE the sum, so the
    * cross-subspace total is an associative long sum — partial-agg order
    * cannot change it.
    */
  def pqTopKAdc(
      corpus: DataFrame, centroids: DataFrame, queryIds: DataFrame, k: Int, m: Int,
      idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    GraftExpressions.register(corpus.sparkSession)
    val (ids, vecs, idType) = codebook(centroids, idCol, vecCol)
    val dim = vecs.head.length
    require(dim % m == 0, s"vector dim $dim must be divisible by m=$m subspaces")
    val sub = dim / m
    // collected query vectors — the same plan-literal pattern as codebook()
    val queries = collectQueries(corpus, queryIds, idCol, vecCol)
    // raw per-(query, subspace) LUT: centroid id -> l2sq of the slices, the
    // same strict index-order fold as L2Squared/the oracle; quantization
    // happens IN THE PLAN via Spark's round() so both engines round alike
    def sliceL2(q: Array[Double], c: Seq[Double], off: Int): Double = {
      var acc = 0.0
      var i = 0
      while (i < sub) { val dx = q(off + i) - c(off + i); acc += dx * dx; i += 1 }
      acc
    }
    val codeCols = (0 until m).map { s =>
      val subCodebook = vecs.map(_.slice(s * sub, (s + 1) * sub))
      element_at(GraftExpressions.nearestCells(
        slice(col(vecCol), s * sub + 1, sub), ids, subCodebook, 1), 1).as(s"__c$s")
    }
    val encoded = Scale.widen(corpus).select(col(idCol).as("neighbor_id") +: codeCols: _*)
    val perQueryScores = queries.map { case (qid, qv) =>
      val dist = (0 until m).map { s =>
        val lut: Map[Long, Double] = ids.zip(vecs).map { case (cid, cv) =>
          cid -> sliceL2(qv, cv, s * sub)
        }.toMap
        round(element_at(typedLit(lut), col(s"__c$s")) * 1e6).cast(LongType)
      }.reduce(_ + _)
      struct(lit(qid).as("query_id"), dist.as("__dist"))
    }
    val scored = encoded
      .select(col("neighbor_id"), explode(array(perQueryScores.toIndexedSeq: _*)).as("__q"))
      .select(col("neighbor_id"), col("__q.query_id").cast(idType).as("query_id"),
        (-col("__q.__dist")).cast(org.apache.spark.sql.types.DoubleType).as("__sim"))
      .filter(col("neighbor_id") =!= col("query_id"))
    topKSelect(scored, k, corpus.schema(idCol).dataType)
  }

  /** The full IVF-PQ architecture: IVF cell pruning (each query searches
    * its `nprobe` nearest cells) × PQ asymmetric-distance scoring (corpus
    * read as m-subspace codes, per-(query, subspace) LUT lookups). The
    * memory-bound large-scale ANN shape: candidate generation touches only
    * probed cells, scoring touches only codes.
    *
    * Plan: the corpus scan assigns cells and encodes codes in ONE narrow
    * projection (both codebooks are plan literals); the probe table
    * (nprobe·|queries| rows, computed driver-side from the collected query
    * set) broadcast-joins on `cell`; scores come from nested literal maps
    * (query → code → quantized distance); the finisher is the bounded-heap
    * top-k aggregate. One broadcast join, zero shuffles before the
    * aggregation.
    */
  def ivfPqTopK(
      vectors: DataFrame, centroids: DataFrame, queryIds: DataFrame,
      k: Int, nprobe: Int, m: Int,
      idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    GraftExpressions.register(vectors.sparkSession)
    val spark = vectors.sparkSession
    val (ids, vecs, idType) = codebook(centroids, idCol, vecCol)
    val dim = vecs.head.length
    require(dim % m == 0, s"vector dim $dim must be divisible by m=$m subspaces")
    require(nprobe >= 1, s"nprobe must be >= 1, got $nprobe")
    val sub = dim / m
    val queries = collectQueries(vectors, queryIds, idCol, vecCol)
    def foldL2(q: Array[Double], c: Seq[Double], off: Int, n: Int): Double = {
      var acc = 0.0
      var i = 0
      while (i < n) { val dx = q(off + i) - c(off + i); acc += dx * dx; i += 1 }
      acc
    }
    // driver-side probe list: nprobe nearest centroids per query, the same
    // (dist asc, id asc) rule as NearestCells — nprobe·|queries| rows
    val probeRows = queries.flatMap { case (qid, qv) =>
      ids.zip(vecs).map { case (cid, cv) => (cid, foldL2(qv, cv, 0, dim)) }
        .sortBy { case (cid, dd) => (dd, cid) }
        .take(nprobe)
        .map { case (cid, _) => (qid, cid) }
    }
    import spark.implicits._
    val probes = probeRows.toSeq.toDF("__qid", "cell")
    // ONE narrow corpus projection: IVF cell + all m PQ codes
    val codeCols = (0 until m).map { s =>
      val subCodebook = vecs.map(_.slice(s * sub, (s + 1) * sub))
      element_at(GraftExpressions.nearestCells(
        slice(col(vecCol), s * sub + 1, sub), ids, subCodebook, 1), 1).as(s"__c$s")
    }
    val encoded = Scale.widen(vectors).select(
      col(idCol).as("neighbor_id") +:
        element_at(GraftExpressions.nearestCells(col(vecCol), ids, vecs, 1), 1).as("cell") +:
        codeCols: _*)
    // nested literal LUTs: subspace → (query id → (code → raw slice L2))
    val dist = (0 until m).map { s =>
      val lut: Map[Long, Map[Long, Double]] = queries.map { case (qid, qv) =>
        qid -> ids.zip(vecs).map { case (cid, cv) => cid -> foldL2(qv, cv, s * sub, sub) }.toMap
      }.toMap
      round(element_at(element_at(typedLit(lut), col("__qid")), col(s"__c$s")) * 1e6)
        .cast(LongType)
    }.reduce(_ + _)
    val scored = encoded.join(broadcast(probes), Seq("cell"))
      .filter(col("neighbor_id") =!= col("__qid"))
      .select(col("neighbor_id"), col("__qid").cast(idType).as("query_id"),
        (-dist).cast(org.apache.spark.sql.types.DoubleType).as("__sim"))
    topKSelect(scored, k, vectors.schema(idCol).dataType)
  }

  /** IVF-pruned top-k with an `nprobe` dial: each query searches its
    * `nprobe` nearest cells (by centroid L2, ties on centroid id) — the
    * standard IVF recall/latency trade. The probe table is
    * `nprobe·|queries|` rows, broadcast; the corpus shuffles once on cell.
    */
  def ivfTopKProbed(
      vectors: DataFrame, centroids: DataFrame, queryIds: DataFrame, k: Int, nprobe: Int,
      idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    GraftExpressions.register(vectors.sparkSession)
    val (ids, vecs, idType) = codebook(centroids, idCol, vecCol)
    val assigned = Scale.widen(vectors).withColumn("cell",
      element_at(GraftExpressions.nearestCells(col(vecCol), ids, vecs, 1), 1).cast(idType))
    // per query: nprobe nearest cells, from the same literal codebook — a
    // narrow explode of an nprobe-element array, no window, no join
    val probes = vectors.join(queryIds, Seq(idCol), "left_semi")
      .select(col(idCol).as("query_id"), col(vecCol).as("__qv"),
        explode(GraftExpressions.nearestCells(col(vecCol), ids, vecs, nprobe)).as("__cellL"),
        sqrt(dot(col(vecCol), col(vecCol))).as("__qn"))
      .withColumn("cell", col("__cellL").cast(idType))
      .drop("__cellL")
    val corpus = assigned.select(col(idCol).as("neighbor_id"), col(vecCol).as("__cv"), col("cell"),
      sqrt(dot(col(vecCol), col(vecCol))).as("__cn"))
    val scored = corpus.join(broadcast(probes), Seq("cell"))
      .filter(col("neighbor_id") =!= col("query_id"))
      .withColumn("__sim", try_divide(dot(col("__qv"), col("__cv")), col("__qn") * col("__cn")))
    topKSelect(scored, k, vectors.schema(idCol).dataType)
  }

  /** IVF-pruned top-k: search only the query's own cell. Same output shape
    * as [[bruteForceTopK]] (approximate: recall < 1 at cell boundaries).
    */
  def ivfTopK(
      assigned: DataFrame, queryIds: DataFrame, k: Int,
      idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    GraftExpressions.register(assigned.sparkSession)
    val q = assigned.join(queryIds, Seq(idCol), "left_semi")
      .select(col(idCol).as("query_id"), col(vecCol).as("__qv"), col("cell"),
        sqrt(dot(col(vecCol), col(vecCol))).as("__qn"))
    val c = assigned.select(col(idCol).as("neighbor_id"), col(vecCol).as("__cv"), col("cell"),
      sqrt(dot(col(vecCol), col(vecCol))).as("__cn"))
    val scored = c.join(broadcast(q), Seq("cell"))
      .filter(col("neighbor_id") =!= col("query_id"))
      .withColumn("__sim", try_divide(dot(col("__qv"), col("__cv")), col("__qn") * col("__cn")))
    topKSelect(scored, k, assigned.schema(idCol).dataType)
  }
}
