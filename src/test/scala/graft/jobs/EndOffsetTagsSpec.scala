package graft.jobs

import java.nio.file.{Files, Path, Paths, StandardCopyOption}
import java.util.concurrent.atomic.AtomicInteger

import graft.SparkSpec
import graft.sources.EndOffsetSource

/** S9 — end offset from object tags: a tagged open-ended file commits the
  * tag's end offset (reference `endOffsetFromTags`,
  * source/S3SourceStorage.kt:65-85) instead of the rows counted at commit.
  */
class EndOffsetTagsSpec extends SparkSpec {

  private val fixtures = Paths.get("/root/reference/src/integrationTest/resources")
  // open-ended: no end offset in the name → normally closed by counting
  private val openFile =
    "application_server_status/partition=1/application_server_status+1+0000000021.avro"

  private def setup(): (Path, Path) = {
    val work = Files.createTempDirectory("graft-tags")
    val in = work.resolve("in")
    Files.createDirectories(in.resolve(openFile).getParent)
    Files.copy(fixtures.resolve(openFile), in.resolve(openFile),
      StandardCopyOption.REPLACE_EXISTING)
    (in, work.resolve("out"))
  }

  private def countJobs(body: => Unit): Int = {
    val jobs = new AtomicInteger()
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(js: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        jobs.incrementAndGet()
    }
    spark.sparkContext.addSparkListener(listener)
    try { body; org.apache.spark.ListenerBusDrain(spark.sparkContext) }
    finally spark.sparkContext.removeSparkListener(listener)
    jobs.get()
  }

  test("tagged open-ended file commits the tag's end offset; untagged one is sized by the commit at no extra job") {
    val (in, out) = setup()
    val tagged = RestructureJobConfig(
      inputRoot = in.toString, outputRoot = out.toString,
      endOffsetSource = Some(new EndOffsetSource.Static(Map(
        "application_server_status+1+0000000021.avro" -> 25L))))
    var r: Restructure.RunResult = null
    val taggedJobs = countJobs { r = Restructure.run(spark, tagged) }
    // the ledger records the TAG's end offset (21..25), not a counted one
    assert(r.ledger.contains("application_server_status", 1, 21, 25, java.time.Instant.EPOCH))
    assert(!r.ledger.contains("application_server_status", 1, 26, 26, java.time.Instant.EPOCH))
    // tag-derived range: records = to - from + 1
    assert(r.processedTopics.head.records == 5)

    // same input WITHOUT the tag: the open range is closed by the rows the
    // commit tasks counted while writing — no extra Spark job
    val (in2, out2) = setup()
    val untaggedJobs = countJobs {
      Restructure.run(spark, RestructureJobConfig(
        inputRoot = in2.toString, outputRoot = out2.toString))
    }
    assert(taggedJobs == untaggedJobs,
      s"untagged run must not pay a counting job: $taggedJobs vs $untaggedJobs jobs")
  }

  test("HadoopXAttr source degrades to None on filesystems without xattr support") {
    val (in, _) = setup()
    val src = new EndOffsetSource.HadoopXAttr(spark.sparkContext.hadoopConfiguration)
    assert(src.endOffset(in.resolve(openFile).toString).isEmpty)
    assert(src.endOffset("/nonexistent/path.avro").isEmpty)
  }

  test("config surface: source.s3.endOffsetFromTags turns the xattr source on") {
    val l = ConfigLoader.load(
      """source:
        |  type: s3
        |  s3:
        |    bucket: b
        |    endOffsetFromTags: true
        |""".stripMargin)
    assert(l.job.endOffsetFromTags)
    assert(l.job.tagOffsetSource(new org.apache.hadoop.conf.Configuration())
      .exists(_.isInstanceOf[EndOffsetSource.HadoopXAttr]))
    assert(!ConfigLoader.load("{}").job.endOffsetFromTags)
    assert(ConfigLoader.load("{}").job
      .tagOffsetSource(new org.apache.hadoop.conf.Configuration()).isEmpty)
  }
}
