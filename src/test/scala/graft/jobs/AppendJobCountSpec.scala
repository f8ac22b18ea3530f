package graft.jobs

import java.io.File
import java.nio.file.{Files, Path}
import scala.jdk.CollectionConverters._

import org.apache.avro.Schema
import org.apache.avro.file.DataFileWriter
import org.apache.avro.generic.{GenericData, GenericDatumWriter, GenericRecord}

import graft.SparkSpec

/** Job-count pins for the restructure write: an append runs a fixed number
  * of Spark jobs per topic. A dynamic topic's shape groups share one
  * attempt-slot job, one bin probe and one commit, so its job count does
  * not grow with the number of shapes; a static append that merges
  * existing bins costs no more jobs than the cold write of the same batch;
  * and open-ended offsets come from the commit tasks, not a counting job.
  */
class AppendJobCountSpec extends SparkSpec {

  private val schemaJson =
    """{"type":"record","name":"Rec","fields":[
      |{"name":"key","type":{"type":"record","name":"K","fields":[
      |  {"name":"userId","type":"string"}]}},
      |{"name":"value","type":{"type":"record","name":"V","fields":[
      |  {"name":"time","type":"double"},
      |  {"name":"props","type":{"type":"map","values":"int"}},
      |  {"name":"arr","type":{"type":"array","items":"string"}}]}}]}""".stripMargin
  private val schema = new Schema.Parser().parse(schemaJson)
  private val t0 = 1.6095816e9 // 2021-01-02T10:00Z

  private def rec(user: String, time: Double, props: Map[String, Int],
      arr: Seq[String]): GenericRecord = {
    val k = new GenericData.Record(schema.getField("key").schema)
    k.put("userId", user)
    val v = new GenericData.Record(schema.getField("value").schema)
    v.put("time", time)
    v.put("props", props.map { case (a, b) => a -> Int.box(b) }.asJava)
    v.put("arr", arr.asJava)
    val r = new GenericData.Record(schema)
    r.put("key", k); r.put("value", v)
    r
  }

  private def writeAvro(dir: Path, name: String, recs: Seq[GenericRecord]): Unit = {
    Files.createDirectories(dir)
    val w = new DataFileWriter[GenericRecord](new GenericDatumWriter[GenericRecord](schema))
    w.create(schema, new File(dir.toFile, name))
    recs.foreach(w.append)
    w.close()
  }

  /** Every one of `shapes` distinct map-key sets in each of 2 users × 3 hours. */
  private def dynBatch(shapes: Int, offset: Int): Seq[GenericRecord] =
    for (u <- 0 until 2; h <- 0 until 3; s <- 0 until shapes)
      yield rec(s"u$u", t0 + 3600.0 * h, Map(s"k$s" -> (offset + h)), Seq(s"v$u"))

  private def runCounted(cfg: RestructureJobConfig): (Int, Restructure.RunResult) = {
    var r: Restructure.RunResult = null
    val n = SparkJobs.count(spark) { r = Restructure.run(spark, cfg) }
    assert(r.failedTopics.isEmpty, r.failedTopics.toString)
    (n, r)
  }

  test("dynamic topic: 1, 2 and 3 shapes run the same number of jobs, cold and appending alike") {
    val counts = (1 to 3).map { shapes =>
      val work = Files.createTempDirectory(s"graft-jobs-dyn$shapes")
      val dir = work.resolve("in/dyn_topic/partition=0")
      val cfg = RestructureJobConfig(
        inputRoot = work.resolve("in").toString, outputRoot = work.resolve("out").toString)
      val n = 6 * shapes
      writeAvro(dir, f"dyn_topic+0+0000000000+${n - 1}%010d.avro", dynBatch(shapes, 0))
      val (cold, _) = runCounted(cfg)
      // the append lands every shape on its existing attempt file
      writeAvro(dir, f"dyn_topic+0+$n%010d+${2 * n - 1}%010d.avro", dynBatch(shapes, 100))
      val (append, _) = runCounted(cfg)
      val bins = Files.walk(work.resolve("out")).iterator().asScala
        .map(_.getFileName.toString).filter(_.endsWith(".csv")).toSeq
      // 2 users × 3 hours, one attempt file per shape each
      assert(bins.size == 6 * shapes, s"$shapes shapes: ${bins.sorted}")
      val lines = Files.walk(work.resolve("out")).iterator().asScala
        .filter(_.toString.endsWith(".csv")).map(p => Files.readAllLines(p).size - 1).sum
      assert(lines == 2 * n, s"$shapes shapes: $lines data rows, expected both batches' ${2 * n}")
      (cold, append)
    }
    assert(counts.map(_._1).distinct.size == 1, s"cold jobs by shape count 1..3: ${counts.map(_._1)}")
    assert(counts.map(_._2).distinct.size == 1, s"append jobs by shape count 1..3: ${counts.map(_._2)}")
    assert(counts.head._1 == counts.head._2, s"an append ran more jobs than the cold write: ${counts.head}")
  }

  test("static append that merges existing bins runs the cold write's job count") {
    val staticSchema = new Schema.Parser().parse(
      """{"type":"record","name":"S","fields":[
        |{"name":"key","type":{"type":"record","name":"K","fields":[
        |  {"name":"userId","type":"string"}]}},
        |{"name":"value","type":{"type":"record","name":"V","fields":[
        |  {"name":"time","type":"double"},{"name":"v","type":"string"}]}}]}""".stripMargin)
    def write(dir: Path, name: String, n: Int, tag: String): Unit = {
      Files.createDirectories(dir)
      val w = new DataFileWriter[GenericRecord](new GenericDatumWriter[GenericRecord](staticSchema))
      w.create(staticSchema, new File(dir.toFile, name))
      (0 until n).foreach { i =>
        val k = new GenericData.Record(staticSchema.getField("key").schema)
        k.put("userId", s"u${i % 3}")
        val v = new GenericData.Record(staticSchema.getField("value").schema)
        v.put("time", t0 + 3600.0 * (i % 2)); v.put("v", s"$tag$i")
        val r = new GenericData.Record(staticSchema)
        r.put("key", k); r.put("value", v)
        w.append(r)
      }
      w.close()
    }
    // the batch under test: one closed file and one OPEN-ENDED file (no end
    // offset in the name), whose 7 records the ledger must count
    def batch(dir: Path): Unit = {
      write(dir, "st_topic+0+0000000010+0000000015.avro", 6, "b")
      write(dir, "st_topic+0+0000000016.avro", 7, "c")
    }
    val coldWork = Files.createTempDirectory("graft-jobs-cold")
    batch(coldWork.resolve("in/st_topic/partition=0"))
    val (cold, coldRun) = runCounted(RestructureJobConfig(
      inputRoot = coldWork.resolve("in").toString, outputRoot = coldWork.resolve("out").toString))

    val work = Files.createTempDirectory("graft-jobs-append")
    val dir = work.resolve("in/st_topic/partition=0")
    val cfg = RestructureJobConfig(
      inputRoot = work.resolve("in").toString, outputRoot = work.resolve("out").toString)
    write(dir, "st_topic+0+0000000000+0000000009.avro", 10, "a")
    runCounted(cfg)
    batch(dir)
    val (append, appendRun) = runCounted(cfg)
    assert(append == cold, s"append over existing bins ran $append jobs, the cold write $cold")

    for (r <- Seq(coldRun, appendRun)) {
      assert(r.ledger.contains("st_topic", 0, 16, 22, java.time.Instant.EPOCH))
      assert(!r.ledger.contains("st_topic", 0, 23, 23, java.time.Instant.EPOCH),
        "open-ended file must be sized by its 7 records")
      assert(r.processedTopics.map(_.records).sum == 13)
    }
    // every existing bin took the batch's rows on top of its own
    val rows = Files.walk(work.resolve("out")).iterator().asScala
      .filter(_.toString.endsWith(".csv")).map(p => Files.readAllLines(p).size - 1).sum
    assert(rows == 23)
  }

  test("shapes whose headers are equal after excludeFields share one bin, in group order") {
    val work = Files.createTempDirectory("graft-jobs-collapse")
    val dir = work.resolve("in/col_topic/partition=0")
    // shape A = {a, x}, shape B = {a, y}: excluding x and y leaves one
    // header. A appears first, so its rows come first; r5 repeats r1's
    // kept values, so keep-last dedup moves that record to the end
    writeAvro(dir, "col_topic+0+0000000000+0000000004.avro", Seq(
      rec("u1", t0, Map("a" -> 1, "x" -> 10), Seq("p")),
      rec("u1", t0, Map("a" -> 2, "y" -> 20), Seq("q")),
      rec("u1", t0, Map("a" -> 3, "x" -> 30), Seq("r")),
      rec("u1", t0, Map("a" -> 4, "y" -> 40), Seq("s")),
      rec("u1", t0, Map("a" -> 1, "y" -> 50), Seq("p"))))
    val cfg = RestructureJobConfig(
      inputRoot = work.resolve("in").toString, outputRoot = work.resolve("out").toString,
      dedup = true, excludeFields = Set("value.props.x", "value.props.y"))
    runCounted(cfg)
    val binDir = work.resolve("out/unknown-project/u1/col_topic")
    val bins = Files.list(binDir).iterator().asScala.map(_.getFileName.toString)
      .filter(_.endsWith(".csv")).toSeq
    assert(bins == Seq("20210102_1000.csv"), s"equal headers must share one slot: $bins")
    val expected = Seq(
      "key.userId,value.time,value.props.a,value.arr.0",
      "u1,1.6095816E9,3,r",
      "u1,1.6095816E9,2,q",
      "u1,1.6095816E9,4,s",
      "u1,1.6095816E9,1,p")
    assert(Files.readAllLines(binDir.resolve("20210102_1000.csv")).asScala == expected)

    // an append of both shapes merges into the same slot, existing rows first
    writeAvro(dir, "col_topic+0+0000000005+0000000006.avro", Seq(
      rec("u1", t0, Map("a" -> 6, "y" -> 60), Seq("t")),
      rec("u1", t0, Map("a" -> 5, "x" -> 70), Seq("u"))))
    runCounted(cfg)
    assert(Files.list(binDir).iterator().asScala.map(_.getFileName.toString)
      .filter(_.endsWith(".csv")).toSeq == bins)
    // the second file's first record (shape B) appears first in the batch
    assert(Files.readAllLines(binDir.resolve("20210102_1000.csv")).asScala ==
      expected ++ Seq("u1,1.6095816E9,6,t", "u1,1.6095816E9,5,u"))
  }
}
