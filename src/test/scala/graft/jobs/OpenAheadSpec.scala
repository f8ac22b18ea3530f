package graft.jobs

import java.nio.file.Files

import graft.SparkSpec

/** RawLocalFileSystem injecting a fixed per-open latency — an object-store
  * stand-in for the bin readers' per-open GET round-trip. Static delay
  * because local-mode executors share the driver JVM.
  */
class SlowOpenLocalFileSystem extends org.apache.hadoop.fs.RawLocalFileSystem {
  override def getScheme: String = "slowopen"
  override def getUri: java.net.URI = SlowOpenLocalFileSystem.FsUri
  override def open(f: org.apache.hadoop.fs.Path, bufferSize: Int)
      : org.apache.hadoop.fs.FSDataInputStream = {
    val d = SlowOpenLocalFileSystem.delayMs
    if (d > 0) Thread.sleep(d)
    super.open(f, bufferSize)
  }
}

object SlowOpenLocalFileSystem {
  val FsUri: java.net.URI = java.net.URI.create("slowopen:///")
  @volatile var delayMs: Long = 0L
}

/** The bin readers' bounded open-ahead (round-18: object-store per-open
  * latency) must be a pure performance change: identical rows to the
  * sequential path, correct behavior under injected per-open latency
  * (through [[SlowOpenLocalFileSystem]]), and no hang or stream leak when
  * the consumer stops early (limit) or a file in the middle is
  * unreadable. The latency wall itself is not asserted here.
  */
class OpenAheadSpec extends SparkSpec {

  private val header = "k.a,v.b"

  private def mkBins(n: Int): (java.nio.file.Path, Seq[String]) = {
    val dir = Files.createTempDirectory("graft-openahead")
    (0 until n).foreach { i =>
      Files.write(dir.resolve(f"bin$i%04d.csv"),
        s"$header\n$i,x$i\n${i + 1},y$i\n".getBytes("UTF-8"))
    }
    (dir, (0 until n).map(i => f"bin$i%04d.csv"))
  }

  test("open-ahead yields exactly the sequential path's rows, with injected per-open latency") {
    val (dir, rels) = mkBins(150)
    spark.sparkContext.hadoopConfiguration.set("fs.slowopen.impl",
      classOf[SlowOpenLocalFileSystem].getName)
    SlowOpenLocalFileSystem.delayMs = 2L
    try {
      val seq = Restructure.readCsvBinFiles(spark, s"slowopen:$dir", "", rels,
        header, openAhead = 0).collect().map(_.toString).sorted.toSeq
      val ahd = Restructure.readCsvBinFiles(spark, s"slowopen:$dir", "", rels,
        header, openAhead = Restructure.BinOpenAheadDefault)
        .collect().map(_.toString).sorted.toSeq
      assert(seq.size == 300)
      assert(ahd == seq)
    } finally SlowOpenLocalFileSystem.delayMs = 0L
  }

  test("partial consumption (limit) completes without hanging on in-flight opens") {
    val (dir, rels) = mkBins(120)
    val got = Restructure.readCsvBinFiles(spark, dir.toString, "", rels, header)
      .limit(3).collect()
    assert(got.length == 3)
  }

  test("an unreadable file mid-stream fails the read cleanly (no hang), sequential and ahead") {
    val (dir, rels) = mkBins(40)
    Files.delete(dir.resolve("bin0020.csv"))
    for (ahead <- Seq(0, Restructure.BinOpenAheadDefault)) {
      val e = intercept[org.apache.spark.SparkException] {
        Restructure.readCsvBinFiles(spark, dir.toString, "", rels, header,
          openAhead = ahead).count()
      }
      assert(e.getMessage != null)
    }
  }
}
