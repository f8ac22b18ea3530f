package graft.streaming

import java.nio.file.Files

import graft.SparkSpec
import graft.jobs.RestructureJobConfig
import graft.paths.PathTemplate
import graft.time.TimeExtract
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

class StreamingSpec extends SparkSpec {
  import spark.implicits._

  // Stream with whatever physical ts type the driver generated, then apply
  // the same normalization the batch loader uses (long nanos / NTZ / LTZ).
  // readStream needs the RAW physical schema (normalization comes after),
  // so this is the one sanctioned direct read of events.parquet — set
  // nanosAsLong first so a TIMESTAMP(NANOS) regeneration still infers
  // instead of failing schema discovery.
  private val rawSchema = {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    spark.read.parquet(s"$sf/events.parquet").schema
  }

  private def streamDir: String = {
    val d = Files.createTempDirectory("graft-stream")
    Files.copy(java.nio.file.Paths.get(s"$sf/events.parquet"),
      d.resolve("events.parquet"))
    d.toString
  }

  private def eventStream = graft.Tables.normalizeEventsTs(
    spark.readStream.schema(rawSchema).parquet(streamDir))

  test("windowed bin counts with watermark match the batch aggregation") {
    val q = StreamingOps.windowedBinCounts(eventStream)
      .writeStream.format("memory").queryName("bins").outputMode("append").start()
    try {
      q.processAllAvailable()
      // append mode emits only closed windows; check a prefix is consistent
      val got = spark.sql(
        "SELECT date_format(window.start, 'yyyyMMdd_HH00') AS bin, event_type, n FROM bins")
        .collect().map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
      val expect = graft.Tables.load(spark, sf, "events")
        .groupBy(date_format(col("ts"), "yyyyMMdd_HH00").as("bin"), col("event_type"))
        .count().collect().map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
      assert(got.nonEmpty)
      got.foreach { case (k, n) => assert(expect(k) == n, s"window $k") }
    } finally q.stop()
  }

  test("session windows match the batch gap-sessionization boundaries") {
    val q = StreamingOps.sessionCounts(eventStream)
      .writeStream.format("memory").queryName("sessions").outputMode("append").start()
    try {
      q.processAllAvailable()
      val got = spark.sql("SELECT user_id, session_start, n_events FROM sessions")
        .collect().map(r => (r.getLong(0), r.getTimestamp(1).getTime) -> r.getLong(2)).toMap
      // batch reference: the q_sessionize window pipeline at the same gap
      val expect = graft.SparkEntry.queries("q_sessionize")(spark, sf)
        .collect().map(r => (r.getLong(0), r.getLong(3) / 1000) -> r.getLong(2)).toMap
      assert(got.nonEmpty)
      // append mode emits only watermark-closed sessions → prefix check
      got.foreach { case (k, n) => assert(expect(k) == n, s"session $k") }
    } finally q.stop()
  }

  test("flatMapGroupsWithState user stats accumulate to batch totals") {
    implicit val s = spark
    val ev = eventStream.select($"event_id", $"user_id", $"event_type", $"value")
      .as[StreamingOps.EventRow]
    val q = StreamingOps.userStats(ev)
      .writeStream.format("memory").queryName("ustats").outputMode("append").start()
    try {
      q.processAllAvailable()
      // last update per user = running total
      val got = spark.sql(
        """SELECT user_id, n FROM (
          |  SELECT *, row_number() OVER (PARTITION BY user_id ORDER BY n DESC) rn FROM ustats)
          |WHERE rn = 1""".stripMargin)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      val expect = graft.Tables.load(spark, sf, "events")
        .groupBy("user_id").count().collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(got == expect)
    } finally q.stop()
  }

  test("streaming exact dedup: first occurrence emitted, duplicates suppressed across query restarts") {
    implicit val s = spark
    val d = Files.createTempDirectory("graft-sdedup")
    val ckpt = Files.createTempDirectory("graft-sdedup-ckpt").toString
    val docSchema = StructType(Seq(
      StructField("doc_id", LongType), StructField("lang", StringType),
      StructField("text", StringType)))
    val outDir = Files.createTempDirectory("graft-sdedup-out").toString
    def runOnce(): Long = {
      val docs = spark.readStream.schema(docSchema).parquet(d.toString)
        .select($"doc_id", md5($"text").as("fp"), $"text",
          to_timestamp(lit("2021-01-02 10:00:00")).as("ts")).as[StreamingOps.Doc]
      // AvailableNow drains and terminates (event-time expiry — a
      // processing-time timeout would keep scheduling batches forever);
      // parquet sink because the memory sink cannot recover a checkpoint
      val q = StreamingOps.streamingExactDedup(docs)
        .writeStream.format("parquet").option("path", outDir).outputMode("append")
        .option("checkpointLocation", ckpt)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      try assert(q.awaitTermination(120000), "query did not drain") finally q.stop()
      spark.read.parquet(outDir).count()
    }
    Files.copy(java.nio.file.Paths.get(s"$sf/documents.parquet"), d.resolve("b1.parquet"))
    val n1 = runOnce()
    val expect = graft.Tables.load(spark, sf, "documents")
      .select(md5($"text")).distinct().count()
    assert(n1 == expect, s"run 1 emits one doc per distinct content: $n1 vs $expect")
    // identical content arrives again; state restored from the checkpoint
    // across the restart suppresses every row (cumulative count unchanged)
    Files.copy(java.nio.file.Paths.get(s"$sf/documents.parquet"), d.resolve("b2.parquet"))
    val n2 = runOnce()
    assert(n2 == n1, s"cross-run duplicates leaked: $n2 vs $n1")
  }

  test("streaming near-dedup: in-batch clusters collapse, cross-batch near-dups drop, replay is idempotent") {
    val work = Files.createTempDirectory("graft-sneardup")
    val historyDir = work.resolve("history").toString
    def doc(id: Long, text: String) = (id, text)
    val base = "the quick brown fox jumps over the lazy dog and runs far away into the woods tonight"
    // batch 0: 1 & 2 near-dup (in-batch), 3 distinct
    val b0 = Seq(
      doc(1L, base),
      doc(2L, base + " ok"),                    // near-dup of 1
      doc(3L, "completely different content about spark catalyst optimizer internals and codegen")
    ).toDF("doc_id", "text")
    val s0 = StreamingNearDedup.dedupBatch(b0, 0L, historyDir)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(s0 == Set(1L, 3L), s"batch 0 survivors: $s0")
    // batch 1: 4 near-dups history doc 1, 5 is new; 6 near-dups 5 in-batch
    val b1 = Seq(
      doc(4L, base + " yes"),                   // near-dup of history 1
      doc(5L, "novel text with entirely fresh tokens nothing shared with previous documents at all"),
      doc(6L, "novel text with entirely fresh tokens nothing shared with previous documents at all really")
    ).toDF("doc_id", "text")
    val s1 = StreamingNearDedup.dedupBatch(b1, 1L, historyDir)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(s1 == Set(5L), s"batch 1 survivors: $s1")
    def historyIds: Set[Long] = StreamingNearDedup.readHistory(spark, historyDir)
      .get.select("doc_id").collect().map(_.getLong(0)).toSet
    assert(historyIds == Set(1L, 3L, 5L))
    // replay of batch 1 (foreachBatch retry): history unchanged, not doubled
    StreamingNearDedup.dedupBatch(b1, 1L, historyDir)
    assert(historyIds == Set(1L, 3L, 5L), "replay must overwrite, not append")
    // the real streaming driver runs the same step per micro-batch
    val srcDir = work.resolve("src")
    Files.createDirectories(srcDir)
    Seq(doc(7L, base + " no"), doc(8L, "yet another wholly unrelated document body mentioning structured streaming watermarks"))
      .toDF("doc_id", "text").write.parquet(srcDir.resolve("p0").toString)
    val stream = spark.readStream
      .schema(StructType(Seq(StructField("doc_id", LongType), StructField("text", StringType))))
      .parquet(srcDir.toString + "/*")
    val q = StreamingNearDedup.run(stream, historyDir, work.resolve("ckpt").toString)
    try q.processAllAvailable() finally q.stop()
    assert(historyIds == Set(1L, 3L, 5L, 8L)) // 7 near-dups history 1
  }

  test("history probe: frozen survivor set across two batches; oversized batch fails fast") {
    val work = Files.createTempDirectory("graft-probe")
    val base = "the quick brown fox jumps over the lazy dog and runs far away into the woods tonight"
    val b0 = Seq(
      (1L, base), (2L, base + " ok"),
      (3L, "completely different content about spark catalyst optimizer internals and codegen")
    ).toDF("doc_id", "text")
    val b1 = Seq(
      (4L, base + " yes"),
      (5L, "novel text with entirely fresh tokens nothing shared with previous documents at all"),
      (6L, "novel text with entirely fresh tokens nothing shared with previous documents at all really")
    ).toDF("doc_id", "text")
    // batch 0 collapses 1/2 in-batch; batch 1 loses 4 to history doc 1
    // (probe) and 6 to 5 (in-batch)
    val dir = work.resolve("h").toString
    val survivors = Seq(b0, b1).zipWithIndex.map { case (b, i) =>
      StreamingNearDedup.dedupBatch(b, i.toLong, dir)
        .select("doc_id").collect().map(_.getLong(0)).toSet
    }
    assert(survivors == Seq(Set(1L, 3L), Set(5L)), s"survivors $survivors")
    // bounded-batch contract: an over-cap batch fails fast naming the
    // alternative, not mid-broadcast
    val big = spark.range(graft.operators.Similarity.MaxProbeBatchRows + 1L)
      .select(col("id").as("doc_id"),
        concat(lit("tok"), col("id")).as("text"))
    val e = intercept[IllegalArgumentException] {
      StreamingNearDedup.dedupBatch(big, 2L, dir)
    }
    assert(e.getMessage.contains("probe batch") &&
      e.getMessage.contains("minhashCandidatePairs"), e.getMessage)
  }

  test("streaming embedding near-dedup: cosine dups collapse in-batch and against history") {
    val work = Files.createTempDirectory("graft-sembdup")
    val historyDir = work.resolve("history").toString
    def vec(id: Long, v: Seq[Float]) = (id, v.toArray)
    val a = Seq(1.0f, 0.0f, 0.0f, 0.0f)
    val aJit = Seq(0.999f, 0.04f, 0.0f, 0.0f)    // cosine ≈ 0.9992 vs a
    val b = Seq(0.0f, 1.0f, 0.0f, 0.0f)
    val c = Seq(0.0f, 0.0f, 0.7f, 0.7f)
    // batch 0: 1 and 2 are cosine near-dups; 3 distinct
    val b0 = Seq(vec(1L, a), vec(2L, aJit), vec(3L, b)).toDF("vec_id", "embedding")
    val s0 = StreamingNearDedup.dedupEmbeddingBatch(b0, 0L, historyDir)
      .select("vec_id").collect().map(_.getLong(0)).toSet
    assert(s0 == Set(1L, 3L), s"batch 0 survivors: $s0")
    // batch 1: 4 duplicates history 3; 5 is new
    val b1 = Seq(vec(4L, b.map(_ * 2f)), vec(5L, c)).toDF("vec_id", "embedding")
    val s1 = StreamingNearDedup.dedupEmbeddingBatch(b1, 1L, historyDir)
      .select("vec_id").collect().map(_.getLong(0)).toSet
    assert(s1 == Set(5L), s"batch 1 survivors: $s1")
    val history = StreamingNearDedup.readHistory(spark, historyDir)
      .get.select("vec_id").collect().map(_.getLong(0)).toSet
    assert(history == Set(1L, 3L, 5L))
  }

  test("streaming restructure writes exactly-named bins via foreachBatch") {
    val out = Files.createTempDirectory("graft-stream-out")
    val ckpt = Files.createTempDirectory("graft-ckpt")
    val cfg = RestructureJobConfig(inputRoot = "/unused", outputRoot = out.toString)
    val source = eventStream
    val epochSec = col("ts").cast(DoubleType)
    val pathCol = PathTemplate.compile(PathTemplate.defaultTemplate, Map(
      "projectId" -> lit("proj"),
      "userId" -> concat(lit("u"), (col("user_id") % 4).cast(StringType)),
      "topic" -> lit("events"),
      "filename" -> concat(TimeExtract.timeBin(epochSec), lit(".csv"))))
    val q = StreamingRestructure.start(spark, source, pathCol, cfg, "events", ckpt.toString)
    try q.awaitTermination(120000) finally if (q.isActive) q.stop()

    import scala.jdk.CollectionConverters._
    val files = Files.walk(out).iterator().asScala
      .filter(Files.isRegularFile(_)).map(p => out.relativize(p).toString)
      .filterNot(p => p.split('/').last.startsWith(".")).toSeq
    assert(files.nonEmpty)
    assert(files.forall(f => f.matches("proj/u\\d/events/\\d{8}_\\d{4}\\.csv")))
    val totalRows = files.map { f =>
      Files.readAllLines(out.resolve(f)).size - 1 // minus header
    }.sum
    assert(totalRows == graft.Tables.load(spark, sf, "events").count())
  }

  test("foreachBatch REPLAY of a committed batch is a no-op (marker), even with dedup off") {
    // foreachBatch is at-least-once: after a crash the last batch replays.
    // The bin writer appends, so without the committed-batch marker every
    // replayed record would double in the output whenever dedup is off.
    val out = Files.createTempDirectory("graft-stream-replay")
    val ckpt = Files.createTempDirectory("graft-ckpt-replay")
    val cfg = RestructureJobConfig(inputRoot = "/unused", outputRoot = out.toString)
    val batch = Seq((1L, 1.6095816e9, "a"), (2L, 1.6095816e9, "b"))
      .toDF("user_id", "ts", "v")
    val pathCol = concat(lit("proj/u"), col("user_id").cast(StringType),
      lit("/events/20210102_1000.csv"))
    val schema = batch.schema
    val first = StreamingRestructure.processBatch(
      spark, cfg, "events", batch, schema, pathCol, batchId = 7L, Some(ckpt.toString))
    assert(first.count == 2)
    val bin = out.resolve("proj/u1/events/20210102_1000.csv")
    val afterFirst = Files.readAllLines(bin)
    // replay of the SAME batchId: skipped via the marker
    val replay = StreamingRestructure.processBatch(
      spark, cfg, "events", batch, schema, pathCol, batchId = 7L, Some(ckpt.toString))
    assert(replay.isEmpty, "replayed committed batch must be a no-op")
    assert(Files.readAllLines(bin) == afterFirst, "replay doubled the bin's rows")
    // the NEXT batch still processes and appends
    val next = StreamingRestructure.processBatch(
      spark, cfg, "events", batch, schema, pathCol, batchId = 8L, Some(ckpt.toString))
    assert(next.count == 2)
    assert(Files.readAllLines(bin).size == afterFirst.size + 1) // +1 data row per user bin
  }

  test("withAdaptive: concurrent same-value steps share one override; opposite value waits; conf restored") {
    val key = "spark.sql.adaptive.enabled"
    val orig = spark.conf.get(key, "true")
    try {
      spark.conf.set(key, "true")
      val inA = new java.util.concurrent.CountDownLatch(1)
      val releaseA = new java.util.concurrent.CountDownLatch(1)
      val bSawFalse = new java.util.concurrent.atomic.AtomicBoolean(false)
      val cRanAfterA = new java.util.concurrent.atomic.AtomicBoolean(false)
      val aDone = new java.util.concurrent.atomic.AtomicBoolean(false)
      val entryOrder = new java.util.concurrent.ConcurrentLinkedQueue[String]()
      val a = new Thread(() => StreamingNearDedup.withAdaptive(spark, enabled = false) {
        inA.countDown()
        releaseA.await(10, java.util.concurrent.TimeUnit.SECONDS)
        aDone.set(true)
      })
      a.start()
      assert(inA.await(10, java.util.concurrent.TimeUnit.SECONDS))
      // B wants the SAME value while A holds it: must run immediately,
      // and A's eventual exit must NOT flip the conf back mid-B — but here
      // B finishes first, and the conf must STAY false (A still holds it)
      val b = new Thread(() => StreamingNearDedup.withAdaptive(spark, enabled = false) {
        bSawFalse.set(spark.conf.get(key) == "false")
      })
      b.start(); b.join(10000)
      assert(bSawFalse.get, "same-value concurrent step must see the override")
      assert(spark.conf.get(key) == "false",
        "first-exiting same-value holder must not restore while a sibling holds")
      // C wants the OPPOSITE value: must block until A drains
      val c = new Thread(() => StreamingNearDedup.withAdaptive(spark, enabled = true) {
        entryOrder.add("c")
        cRanAfterA.set(aDone.get && spark.conf.get(key) == "true")
      })
      c.start()
      Thread.sleep(200)
      assert(c.isAlive, "opposite-value step must wait for the current holders")
      // D wants the SAME value as the holder A — but with C queued it must
      // wait too (no barging), or overlapping same-value steps could
      // starve C forever
      val dRan = new java.util.concurrent.atomic.AtomicBoolean(false)
      val d = new Thread(() => StreamingNearDedup.withAdaptive(spark, enabled = false) {
        entryOrder.add("d")
        dRan.set(spark.conf.get(key) == "false")
      })
      d.start()
      Thread.sleep(200)
      assert(d.isAlive && !dRan.get,
        "same-value entrant must not barge past a queued opposite-value waiter")
      releaseA.countDown()
      a.join(10000); c.join(10000); d.join(10000)
      assert(cRanAfterA.get, "opposite-value step must run after the holder exits, under its own value")
      assert(dRan.get, "the deferred same-value step must still run, under its value")
      // DETERMINISTIC handoff: at A's drain the opposed value is recorded
      // as next-admitted, so C cannot lose the monitor-reacquisition race
      // to the queued same-value D — not just "C eventually runs" but "C
      // runs FIRST", every schedule
      assert(entryOrder.toArray.toSeq == Seq("c", "d"),
        s"drain must hand off to the opposed waiter first: $entryOrder")
      assert(spark.conf.get(key) == "true", "conf must be restored after all steps")
    } finally spark.conf.set(key, orig)
  }
}
