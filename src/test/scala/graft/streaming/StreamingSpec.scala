package graft.streaming

import java.nio.file.Files

import graft.SparkSpec
import graft.jobs.SparkJobs
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

class StreamingSpec extends SparkSpec {
  import spark.implicits._

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

  test("AQE-off section: overlapping steps both see AQE off; the last one out restores the value") {
    import java.util.concurrent.{ConcurrentLinkedQueue, CountDownLatch, TimeUnit}
    val key = "spark.sql.adaptive.enabled"
    val orig = spark.conf.get(key, "true")
    try for (before <- Seq("true", "false")) {
      spark.conf.set(key, before)
      val seen = new ConcurrentLinkedQueue[String]()
      val inA = new CountDownLatch(1)
      val releaseA = new CountDownLatch(1)
      val a = new Thread(() => StreamingNearDedup.withAqeOff(spark) {
        seen.add(spark.conf.get(key))
        inA.countDown()
        releaseA.await(10, TimeUnit.SECONDS)
        seen.add(spark.conf.get(key))
      })
      a.start()
      assert(inA.await(10, TimeUnit.SECONDS))
      // B enters while A holds the section and leaves first
      val b = new Thread(() => StreamingNearDedup.withAqeOff(spark) {
        seen.add(spark.conf.get(key))
      })
      b.start(); b.join(10000)
      assert(!b.isAlive, "an overlapping step must not wait")
      assert(spark.conf.get(key) == "false",
        "the first step out must not restore while another step holds the section")
      releaseA.countDown(); a.join(10000)
      assert(seen.toArray.toSeq == Seq("false", "false", "false"),
        s"(before=$before) a step ran with AQE on: $seen")
      assert(spark.conf.get(key) == before, s"(before=$before) value not restored")
    } finally spark.conf.set(key, orig)
  }

  test("near-dedup steps on an AQE-on session run a pinned number of jobs per batch") {
    val key = "spark.sql.adaptive.enabled"
    val orig = spark.conf.get(key, "true")
    val base = "the quick brown fox jumps over the lazy dog and runs far away into the woods tonight"
    // the survivor tests' batches
    val t0 = Seq((1L, base), (2L, base + " ok"),
      (3L, "completely different content about spark catalyst optimizer internals and codegen")
    ).toDF("doc_id", "text")
    val t1 = Seq((4L, base + " yes"),
      (5L, "novel text with entirely fresh tokens nothing shared with previous documents at all"),
      (6L, "novel text with entirely fresh tokens nothing shared with previous documents at all really")
    ).toDF("doc_id", "text")
    val (a, b) = (Array(1.0f, 0.0f, 0.0f, 0.0f), Array(0.0f, 1.0f, 0.0f, 0.0f))
    val e0 = Seq((1L, a), (2L, Array(0.999f, 0.04f, 0.0f, 0.0f)), (3L, b)).toDF("vec_id", "embedding")
    val e1 = Seq((4L, b.map(_ * 2f)), (5L, Array(0.0f, 0.0f, 0.7f, 0.7f))).toDF("vec_id", "embedding")
    try {
      spark.conf.set(key, "true")
      val th = Files.createTempDirectory("graft-jobs-text").resolve("h").toString
      val eh = Files.createTempDirectory("graft-jobs-emb").resolve("h").toString
      // (fresh history, non-empty history) per step; with AQE on the same
      // steps schedule one job per exchange on top
      val text = Seq(t0, t1).zipWithIndex.map { case (batch, i) =>
        SparkJobs.count(spark)(StreamingNearDedup.dedupBatch(batch, i.toLong, th))
      }
      val emb = Seq(e0, e1).zipWithIndex.map { case (batch, i) =>
        SparkJobs.count(spark)(StreamingNearDedup.dedupEmbeddingBatch(batch, i.toLong, eh))
      }
      assert((text, emb) == ((Seq(8, 11), Seq(7, 9))), s"jobs per batch: text $text, embedding $emb")
      assert(spark.conf.get(key) == "true")
    } finally spark.conf.set(key, orig)
  }
}
